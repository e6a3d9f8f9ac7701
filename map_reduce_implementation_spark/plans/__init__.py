from .audit import PYTHON_OK, PlanAudit, audit_plan, fingerprint, formatted_plan

__all__ = ["PYTHON_OK", "PlanAudit", "audit_plan", "fingerprint", "formatted_plan"]
