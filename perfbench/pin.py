"""Regenerate the expectations in ``pins.json``.

    python3 perfbench/pin.py batch            # row count + hash per query at sf0.1
    python3 perfbench/pin.py replay 1 2 3     # pandas-replay digest per seed

Run it only when outputs are meant to change; the benchmark fails any
run whose outputs differ from these pins.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from types import SimpleNamespace

import run


def main(argv: list[str]) -> int:
    kind, seeds = argv[0], [int(s) for s in argv[1:]]
    base = os.path.join(run.ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    cache = os.path.join(base, "cache")
    os.makedirs(cache, exist_ok=True)
    run.host_env(work)
    import measure
    import reference
    import workloads as W

    path = os.path.join(run.HERE, "pins.json")
    with open(path) as fh:
        pins = json.load(fh)
    from real_time_data_anomaly_detection_spark.io import DEFAULT_SF_DIR as sf_dir
    try:
        args = SimpleNamespace(seed=0, trace=0, smoke=False)
        ctx = W.Ctx(args, work, cache, sf_dir, pins)
        spark, _ = W.start_session(ctx)
        if kind == "batch":
            from real_time_data_anomaly_detection_spark.operators import REGISTRY

            for name in W.HEADLINE + W.HEAVY:
                pins["batch"][name] = W._checked_run(spark, REGISTRY[name].spark_fn, sf_dir)
        elif kind == "replay":
            key = "{}x{}".format(*W.replay_size(ctx))
            for seed in seeds:
                ctx.seed = seed
                data = W.replay_files(ctx, spark, *W.replay_size(ctx))
                rows = [tuple(r) for f in W.expected_outliers(data) for r in f]
                pins["replay"].setdefault(key, {})[str(seed)] = reference.digest(rows)
                print(seed, pins["replay"][key][str(seed)], flush=True)
        else:
            raise SystemExit(f"unknown pin kind {kind!r}")
    finally:
        run.stop_jvm()
        measure.reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
