"""Physical-plan vocabulary — the "did Catalyst do what we designed
for?" feedback loop (pushdown, pruning, broadcast, codegen, Python
boundaries, redundant scans).

Every reader of plan text goes through this module: ``fingerprint`` is
the operator count behind ``PLAN_SNAPSHOT.json``, ``PlanAudit`` the
scale properties tests assert (a plan that reads all columns for a
2-column projection is wrong at 100 TB even though its output matches),
and ``tools/plans.py`` sweeps both over the suite. Plans are read from
``explain("formatted")``, never executed.
"""

from __future__ import annotations

import contextlib
import io
import re
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame

# these queries intentionally run Python kernels (Arrow-batched Pandas
# UDF / UDTF / mapInPandas / mapInArrow / applyInPandas) — anything NOT
# listed must stay JVM-only (enforced in tests/test_plan_snapshot.py)
PYTHON_OK = {
    "udaf_geomean",
    "udtf_sentences",
    "grouped_map_centroids",
    "multimodal_decode_dispatch",
    "multimodal_resize",
    "multimodal_features",
    "text_winnow_fingerprint",
    "multimodal_audio_decode",
    "multimodal_png_roundtrip",
    "multimodal_wav_roundtrip",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_semantic",
    "dedup_semantic_graded",
    "letter_counter",
    # cosine_pairs gemm candidate kernel (sketch-then-verify; exact
    # sims recomputed JVM-side — see operators/similarity.py)
    "similarity_cosine_pairs",
    "dedup_embedding_cosine",
    "similarity_threshold_sweep",
    "split_leakage_audit",
}

_TABLE_RE = re.compile(r"file:[^\]\s,]*/(\w+)\.parquet")


def formatted_plan(df: DataFrame) -> str:
    """``df.explain(mode="formatted")`` output as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


@contextlib.contextmanager
def recording_checkpoints():
    """Within the block, record the formatted plan of every frame that is
    ``localCheckpoint``ed, eagerly or not; yields the list they land in.
    Those are the build jobs of a query: its final plan shows each one
    only as ``Scan ExistingRDD``, so the table scans inside it are
    read here.

    Patches the classic (JVM-backed) ``DataFrame``: on Spark 4
    ``pyspark.sql.DataFrame`` is its parent class, whose
    ``localCheckpoint`` the classic class overrides, so patching the
    parent records nothing."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    plans: list[str] = []
    checkpoint = ClassicDataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(formatted_plan(self))
        return checkpoint(self, *args, **kwargs)

    ClassicDataFrame.localCheckpoint = recording
    try:
        yield plans
    finally:
        ClassicDataFrame.localCheckpoint = checkpoint


def table_scans(plan_text: str) -> dict[str, int]:
    """Parquet scans per table. The formatted scan operator line carries
    no path; the details section has one ``Location: ...
    [file:...<table>.parquet]`` line per scan node."""
    scans: dict[str, int] = {}
    for line in plan_text.splitlines():
        m = _TABLE_RE.search(line) if "Location" in line else None
        if m:
            scans[m.group(1)] = scans.get(m.group(1), 0) + 1
    return scans


def fingerprint(plan_text: str) -> dict:
    """Operator counts, never ids or sizes, so the result is stable across
    runs and scale factors. ``scans`` and ``map_in_arrow`` match both an
    operator's tree line and its details line (one scan counts 2);
    ``PLAN_SNAPSHOT.json`` is recorded that way. ``table_scans`` counts
    parquet scans per table, so a query that gains a scan of a table
    moves its fingerprint.

    Only the final plan is read. Frames a query ``localCheckpoint``s
    while it builds appear as ``Scan ExistingRDD``, and the table scans
    inside those jobs are invisible here; ``recording_checkpoints``
    captures their plans."""

    def n(pat: str) -> int:
        return len(re.findall(pat, plan_text))

    return {
        "shuffles": n(r"\(\d+\) Exchange\b"),
        "broadcasts": n(r"\(\d+\) BroadcastExchange\b"),
        "sort_merge_joins": n(r"\(\d+\) SortMergeJoin\b"),
        "broadcast_joins": n(r"\(\d+\) Broadcast(?:Hash|NestedLoop)Join\b"),
        "cartesian": n(r"\(\d+\) CartesianProduct\b"),
        "python_evals": n(r"\(\d+\) (?:Batch|Arrow)EvalPython\b"),
        "map_in_arrow": n(r"MapInArrow|PythonMapInArrow"),
        "map_in_pandas": n(r"MapInPandas|FlatMapGroupsInPandas|MapInBatch"),
        "python_udtf": n(r"\(\d+\) BatchEvalPythonUDTF\b"),
        "agg_in_pandas": n(r"AggregateInPandas"),
        "scans": n(r"Scan parquet|Scan text|Scan orc|Scan ExistingRDD"),
        "take_ordered": n(r"\(\d+\) TakeOrderedAndProject\b"),
        "table_scans": table_scans(plan_text),
    }


@dataclass
class PlanAudit:
    text: str

    @cached_property
    def operators(self) -> dict:
        return fingerprint(self.text)

    @property
    def pushed_filters(self) -> list[str]:
        return re.findall(r"PushedFilters: \[([^\]]*)\]", self.text)

    @property
    def read_schemas(self) -> list[str]:
        return re.findall(r"ReadSchema: (\S+)", self.text)

    @property
    def has_broadcast_join(self) -> bool:
        return self.operators["broadcast_joins"] > 0

    @property
    def has_sort_merge_join(self) -> bool:
        return self.operators["sort_merge_joins"] > 0

    @property
    def n_shuffle_exchanges(self) -> int:
        """Numbered shuffle Exchange operators (broadcasts excluded)."""
        return self.operators["shuffles"]

    @property
    def n_broadcast_exchanges(self) -> int:
        return self.operators["broadcasts"]

    @property
    def whole_stage_codegen(self) -> bool:
        # formatted mode marks codegen'd operators with "[codegen id : N]"
        return "codegen id" in self.text or "WholeStageCodegen" in self.text

    @property
    def has_partial_agg(self) -> bool:
        # partial-mode HashAggregate shows partial_<fn> aggregate exprs
        return "partial_" in self.text

    @property
    def has_python_udf(self) -> bool:
        # wider than the python_evals key: also matches the UDTF forms
        return "BatchEvalPython" in self.text or "ArrowEvalPython" in self.text

    @property
    def has_take_ordered(self) -> bool:
        return self.operators["take_ordered"] > 0

    @property
    def table_scans(self) -> dict[str, int]:
        return self.operators["table_scans"]

    @property
    def redundant_scans(self) -> int:
        """Scans beyond the first of each table: a plan that reads a table
        N times replays a subtree, N-1 extra fact-table passes at scale."""
        return sum(n - 1 for n in self.table_scans.values())


def audit_plan(df: DataFrame) -> PlanAudit:
    return PlanAudit(formatted_plan(df))
