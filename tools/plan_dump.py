"""Write .explain('formatted') for queries into an output dir, one
``<query>.txt`` each.

Each file also carries the INPUT subplan of every materialize() call made
while building the query (via SPARK_GRAFT_PLAN_CAPTURE_DIR — see
materialize._capture_plan): a localCheckpoint truncates lineage, so the
top-level explain alone shows `Scan ExistingRDD` where the expensive subtree
used to be (e.g. the x02/x21/x38 in-row signature stage).

Usage: python tools/plan_dump.py OUTDIR [query ...]
"""

from __future__ import annotations

import glob
import io
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir = sys.argv[1]
    from crypto_market_data_etl_spark.session import get_spark

    spark = get_spark(app_name="plan_dump")
    from crypto_market_data_etl_spark import plans

    qs = plans.all_queries()
    qs.update(plans.variant_queries())
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        cap = tempfile.mkdtemp(prefix=f"plan_cap_{name}_")
        os.environ["SPARK_GRAFT_PLAN_CAPTURE_DIR"] = cap
        try:
            df = qs[name](spark, sf_dir)
        finally:
            os.environ.pop("SPARK_GRAFT_PLAN_CAPTURE_DIR", None)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        parts = [buf.getvalue()]
        for i, sub in enumerate(sorted(glob.glob(os.path.join(cap, "*.txt")))):
            with open(sub) as fh:
                parts.append(
                    f"\n===== materialize() input subplan {i} "
                    f"(pre-checkpoint lineage) =====\n" + fh.read()
                )
        shutil.rmtree(cap, ignore_errors=True)
        text = "".join(parts)
        path = os.path.join(outdir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
