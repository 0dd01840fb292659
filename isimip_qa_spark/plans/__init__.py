"""Driver-side orchestration: the QA stage DAG, checkpoint/resume, skew
salting for host-keyed aggregates, and lineage/metrics emission.

This is the Spark recast of the reference's main loop
(/root/reference/isimip_qa/main.py:115-136): planning = building the stage
list filtered by capability + checkpoint-skip; execution = one fused
DataFrame pass per checkpoint segment (the reference's shared scan,
main.py:130-136); artifacts = parquet metrics/lineage tables.
"""

from .config import QAConfig
from .grid import plan_grid, run_grid
from .pipeline import run_qa

__all__ = ["QAConfig", "run_qa", "plan_grid", "run_grid"]
