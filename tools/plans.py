#!/usr/bin/env python
"""Capture .explain('formatted') plan receipts for gates.

Usage: plans.py <subdir> <suffix> <query> [<query> ...]
Writes plans/<subdir>/<query>_<suffix>.txt with the formatted physical
plan of the gate's returned frame (plus the plan-facts header the
PLANS.md audit extracts). Runs at $SPARK_GRAFT_SF_DIR (default sf0.01 —
plan shape, not walls, is what these files record). Set PLANS_NOSPREAD=1
to capture the plan without the scale-adaptive scan spread."""
from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bigdata_lab02_spark.plans import plan_report  # noqa: E402
from bigdata_lab02_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def main() -> None:
    subdir, suffix, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = Path(__file__).resolve().parent.parent / "plans" / subdir
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="plans")
    if os.environ.get("PLANS_NOSPREAD"):
        entrymod._spread = lambda df: df
    qs = entrymod.queries()
    for name in names:
        fn = qs.get(name) or getattr(entrymod, f"q_{name}")
        df = fn(spark, sf_dir)
        r = plan_report(df)
        head = (
            f"# {name} ({suffix}) at {sf_dir}\n"
            f"# exchanges={r.n_exchanges} broadcast_joins={r.n_broadcast_joins} "
            f"sortmerge_joins={r.n_sortmerge_joins} "
            f"shuffle_hash_joins={r.n_shuffle_hash_joins} "
            f"wholestage={r.wholestage_ids} map_in_pandas={r.n_map_in_pandas} "
            f"repeated_scans={r.repeated_scans}\n"
            f"# pushed_filters={r.pushed_filters!r}\n\n"
        )
        (out_dir / f"{name}_{suffix}.txt").write_text(head + r.raw)
        print(f"wrote {name}_{suffix}.txt")


if __name__ == "__main__":
    main()
