from .catalyst import optimized_plan_probe
from .session import get_spark

__all__ = ["get_spark", "optimized_plan_probe"]
