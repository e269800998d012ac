"""Wall-time probe for WIDE-SCHEMA training (VERDICT r7 item 4): the
33-attribute stress table (`operators/training.py::wide_training`) whose
600-node depth-1 frontier pushes the declared contingency estimate past
`tree._DRIVER_STATS_MAX_ROWS` and, at sf0.1, its rows alive × 34 too,
engaging the fully distributed per-level reduction BY THE BOUND
mid-train (below ~118k rows the level stays on the driver). Records
what the default (mixed
driver→distributed) run, the forced-driver run and the forced-
distributed run cost at the bench scale factor; the three models are
pytest-pinned identical (tests/test_wide_training.py).

Usage: python scripts/probe_wide_training.py [sf_dir]
Prints one JSON line; per-path lines go to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from c4_5decisiontreebasedonmapreduce_spark import get_spark  # noqa: E402
from c4_5decisiontreebasedonmapreduce_spark.operators import (  # noqa: E402
    tree as Tr,
)
from c4_5decisiontreebasedonmapreduce_spark.operators.training import (  # noqa: E402
    wide_training,
    wide_training_schema,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(app_name="probe-wide-training")
    spark.range(1000).count()  # JVM warm-up

    out: dict = {"sf_dir": sf_dir, "n_attrs": 33}
    schema = wide_training_schema()
    df = wide_training(spark, sf_dir)
    out["rows"] = df.count()  # warm the scan so all variants start equal

    for label, kw in (
        ("default_mixed", {}),  # driver at root, distributed-by-bound at L1
        ("forced_driver", {"driver_stats_max_rows": 10**9}),
        ("forced_distributed", {"driver_stats_max_rows": 0}),
    ):
        t0 = time.perf_counter()
        model = Tr.train(df, schema, max_depth=2, **kw)
        dt = round(time.perf_counter() - t0, 3)
        out[f"wide_{label}_sec"] = dt
        out[f"wide_{label}_rules"] = len(model.rules)
        print(
            f"# wide_train[{label}]: {dt}s, {len(model.rules)} rules",
            file=sys.stderr,
        )

    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
