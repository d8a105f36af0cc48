"""``python -m remap_spark.plans OUT.json SF_DIR``: write ``masked_plan``
of every registered query over SF_DIR's tables to OUT.json (a build
error as ``ERROR: ...``). One ``local[2]`` session, so a shuffle width
read from the session does not follow the machine's cores.
"""

from __future__ import annotations

import json
import sys

from remap_spark.engine import build_session
from remap_spark.plans import masked_plan
from remap_spark.queries import ALL_QUERIES

if __name__ == "__main__":
    out_path, sf_dir = sys.argv[1:3]
    spark = build_session(app_name="remap_spark_plans", master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    plans = {}
    for name, build in ALL_QUERIES.items():
        try:
            plans[name] = masked_plan(build(spark, sf_dir))
        except Exception as ex:  # noqa: BLE001 - recorded, not hidden
            plans[name] = f"ERROR: {type(ex).__name__}: {ex}"
        print(name, flush=True)
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(plans, f, indent=1, sort_keys=True)
