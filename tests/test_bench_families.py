"""Every bench scaling family builds its ×n frames from its own ×n
corpora. Each ``bench.FAMILIES`` setup runs at n=2 over sf0.001 under a
temporary ``.bench_data`` root; both frames are built (their eager build
jobs run) but never executed or timed.

A build's scanned directories are the parquet paths it reads plus the
``Location`` lines of its formatted plan: the final plan of a query that
checkpoints while it builds (PageRank, MinHash) shows only ``Scan
ExistingRDD``, and a table read memoized by an earlier family shows only
in the plan.
"""

from __future__ import annotations

import os
import re

from pyspark.sql.readwriter import DataFrameReader

from map_reduce_implementation_spark.plans import formatted_plan

from .conftest import SF0001

_LOCATION = re.compile(r"Location: .*?\[file:([^\]\s,]+)")

# the directories each family's ×2 build must scan, and nothing else
X2_DIRS = {
    "dedup_ngram_jaccard_capped": {"docs_x2"},
    "text_winnow_graded": {"docs_x2"},
    "dedup_line_level": {"docs_x2"},
    "dedup_minhash_lsh": {"docs_dj2"},
    "dedup_semantic": {"docs_x2"},
    "events_drift_psi": {"docs_x2"},
    "graph_pagerank": {"docs_x2"},
    # the query batch is fixed: always read from the 1× corpus
    "similarity_two_stage_retrieval": {"docs_x2", SF0001},
    "join_region_revenue": {"rel_x2"},
    "pricing_summary": {"rel_x2"},
    "skew_salted_join": {"skew_x2", "rel_x2"},
}


def test_every_family_builds_x2_frames_from_its_x2_corpora(spark, tmp_path, monkeypatch):
    import bench

    data = str(tmp_path / ".bench_data")
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setattr(bench, "SF_DIR", SF0001)
    frames: list = []
    monkeypatch.setattr(bench, "_run_noop", frames.append)
    reads: list[str] = []
    parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **options):
        reads.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)

    def scanned(build) -> set[str]:
        frames.clear()
        reads.clear()
        build()
        (df,) = frames
        paths = reads + _LOCATION.findall(formatted_plan(df))
        dirs = {os.path.dirname(p.removeprefix("file:")) for p in paths}
        return {os.path.relpath(d, data) if d.startswith(data) else d for d in dirs}

    assert [f.name for f in bench.FAMILIES] == list(X2_DIRS)
    x2_corpora = set().union(*X2_DIRS.values()) - {SF0001}
    for fam in bench.FAMILIES:
        builds = fam.setup(spark, 2)
        assert builds is not None, fam.name
        build1, build2 = builds
        assert not scanned(build1) & x2_corpora, fam.name
        assert scanned(build2) == X2_DIRS[fam.name], fam.name
