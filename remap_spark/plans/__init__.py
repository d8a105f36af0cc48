from .analysis import explain_str, masked_plan, plan_report

__all__ = ["explain_str", "masked_plan", "plan_report"]
