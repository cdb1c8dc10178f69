#!/usr/bin/env python
"""Regenerate PLAN_FINGERPRINTS.json, the baseline of the cross-round
plan-shape gate (tests/test_plans.py).

    python tests/emit_plan_fingerprints.py

Maps EVERY registry key to stable hashes of its normalized formatted
physical plan (analysis + optimization only — nothing executes).  The
pre-execution plan is used deliberately: the post-AQE final plan folds
in runtime statistics (partition coalescing counts vary with host
state), which is exactly the noise this artifact exists to exclude.

Plans are built over the corpus the current artifact names (its
``sf_dir``), so a regeneration compares like with like;
``SPARK_GRAFT_SF_DIR`` overrides it.  Plans depend on file statistics
(broadcast decisions), so the gate only compares hashes built over the
same files.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_builder_spark.plans.audit import canonical_plan_hashes  # noqa: E402
from etl_builder_spark.registry import REGISTRY, _ensure_loaded  # noqa: E402
from etl_builder_spark.session import get_spark  # noqa: E402

OUT = os.path.join(ROOT, "PLAN_FINGERPRINTS.json")


def emit_fingerprints() -> int:
    with open(OUT) as f:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", json.load(f)["sf_dir"])
    _ensure_loaded()
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("fingerprints", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    fps: dict[str, str] = {}
    shapes: dict[str, str] = {}
    unstable: list[str] = []
    errs: dict[str, str] = {}
    for name in sorted(REGISTRY):
        try:
            fine1, shape1 = canonical_plan_hashes(spark, REGISTRY[name].fn, sf_dir)
            fine2, shape2 = canonical_plan_hashes(spark, REGISTRY[name].fn, sf_dir)
            if fine1 != fine2:
                unstable.append(name)
            if shape1 != shape2:
                errs[name] = "shape hash unstable within one session"
            fps[name] = min(fine1, fine2)  # deterministic representative
            shapes[name] = shape1
        except Exception as e:  # noqa: BLE001
            errs[name] = f"{type(e).__name__}: {str(e)[:160]}"
        print(f"# {name}: {fps.get(name, 'ERR')} {shapes.get(name, '')}", file=sys.stderr)
    with open(OUT, "w") as f:
        json.dump(
            {
                "n_keys": len(fps),
                "n_errors": len(errs),
                "sf_dir": sf_dir,
                "errors": errs,
                # keys where Catalyst emits equivalent-but-reordered
                # expression lists run-to-run: compare their SHAPE hash
                "fine_unstable": sorted(unstable),
                "fingerprints": fps,
                "shapes": shapes,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    print(json.dumps({"metric": "plan_fingerprints", "n_keys": len(fps), "n_errors": len(errs), "n_fine_unstable": len(unstable), "file": "PLAN_FINGERPRINTS.json"}))
    return 0


if __name__ == "__main__":
    sys.exit(emit_fingerprints())
