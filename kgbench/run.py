"""Repository benchmark: one seeded workload per run, every metric printed
by name and unit, outputs checked.

    python3 kgbench/run.py --workload web_kg --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. ``--trace 0`` reports the end-to-end
metrics of untraced units; ``--trace 1`` adds a traced walk through the
layers and reports the per-layer metrics instead. Human-readable lines
come first; the last line of standard output is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

# a workload repeats its unit at least this often, however short --seconds
MIN_UNITS = 2

COUNT_UNITS = {
    "rows": "count", "mb_in": "MB", "terms_out": "count",
    "terms.phrases": "count", "terms.unigrams": "count",
    "terms.verbs": "count", "rows_collected": "count", "docs": "count",
    "hit_ratio": "ratio", "terms_per_doc": "terms/doc", "paths": "count",
    "dedup_ratio": "ratio", "exact_kept_ratio": "ratio",
    "candidate_pairs": "count", "verified_ratio": "ratio",
    "admitted_ratio": "ratio", "store_mb": "MB", "files_written": "count",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(units, stats, setup_s: float, peak_rss_mb: float,
               triple_f1: float) -> dict[str, tuple[float, str]]:
    ok = [u for u in units if u.ok]
    return {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (_median([u.docs / u.wall for u in ok]), "docs/s"),
        "triples_per_s": (
            _median([u.triples / u.wall for u in ok]), "triples/s"),
        "shuffle_write_mb": (
            _median([stats[u.sid].shuffle_mb for u in ok]), "MB"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "triple_f1": (triple_f1, "ratio"),
    }


def per_layer(spans, stats, cores: int, layers, overhead_s: float
              ) -> dict[str, tuple[float, str]]:
    from kgbench.trace import self_wall

    out: dict[str, tuple[float, str]] = {}
    for layer in layers:
        busy = run_s = shuffle = 0.0
        jobs = 0
        counts: dict[str, float] = {}
        for s in (x for x in spans if x.name == layer):
            busy += self_wall(s, spans)
            js = stats[s.sid]
            run_s += js.run_s
            shuffle += js.shuffle_mb
            jobs += js.jobs
            for k, v in s.counts.items():
                counts[k] = counts.get(k, 0) + v
        out[f"{layer}.busy_s"] = (busy, "s")
        out[f"{layer}.idle_core_s"] = (busy * cores - run_s, "s")
        out[f"{layer}.shuffle_mb"] = (shuffle, "MB")
        out[f"{layer}.jobs"] = (jobs, "count")
        for k, v in counts.items():
            out[f"{layer}.{k}"] = (v, COUNT_UNITS[k])
    out["trace.overhead_s"] = (overhead_s, "s")
    return out


def bench(workload: str, seed: int, seconds: float, trace: bool,
          tiny: bool) -> dict:
    """One run. ``setup_s`` is session start + corpus generation + the
    warm-up build of the slice; the units that follow are timed."""
    from kgbench import env
    from kgbench.trace import Tracer, attribute
    from kgbench.workloads import LAYERS, WORKLOADS, Outcome

    cls, sizes, tiny_sizes = WORKLOADS[workload]
    t0 = time.perf_counter()
    outcome = Outcome()
    with env.RssSampler() as rss:
        run = env.RunDir()
        spark = None
        try:
            try:
                spark = env.start_spark(run)
                session_s = time.perf_counter() - t0
                tracer = Tracer(spark.sparkContext)
                wl = cls(spark, run, seed, **(tiny_sizes if tiny else sizes))
                t = time.perf_counter()
                wl.prepare()
                prepare_s = time.perf_counter() - t
                t = time.perf_counter()
                wl.warm_up()
                warmup_s = time.perf_counter() - t
                start = time.perf_counter()
                while (len(outcome.units) < MIN_UNITS
                       or time.perf_counter() - start < seconds):
                    outcome.units.append(
                        wl.unit(tracer, len(outcome.units)))
                t = time.perf_counter()
                wl.check(outcome)
                check_s = time.perf_counter() - t
                traced_wall = wl.traced(tracer, outcome) if trace else 0.0
            finally:
                if spark is not None:
                    env.stop_spark(spark)
            stats = attribute(tracer.spans, env.event_log_path(run))
        finally:
            run.close()
    units = outcome.units
    ok = [u for u in units if u.ok]
    failed = len(units) - len(ok)
    for name, value in (("session_s", session_s), ("prepare_s", prepare_s),
                        ("warmup_s", warmup_s), ("check_s", check_s),
                        ("wall_s", time.perf_counter() - t0)):
        print(f"{name} {value:.6g} s")
    for u in units:
        print(f"unit {u.sid} {u.wall:.6g} s ok={u.ok}")
    print(f"failed_ops_ratio {failed / len(units):.6g} ratio")
    print("triple_digest", outcome.digest)
    print(f"spill_mb {_median([stats[u.sid].spill_mb for u in ok]):.6g} MB")
    if trace:
        overhead = traced_wall - _median([u.wall for u in ok])
        metrics = per_layer(tracer.spans, stats, env.cores(), LAYERS,
                            overhead)
        for s in tracer.spans:
            print("span", json.dumps(s.__dict__))
    else:
        metrics = end_to_end(units, stats,
                             session_s + prepare_s + warmup_s,
                             rss.peak_mb, outcome.triple_f1)
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    return {
        "correct": outcome.correct,
        "attempted": len(units),
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0,
                    help="time the repeated units for at least this long")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs, for the smoke test")
    args = ap.parse_args(argv)
    if not (ROOT / "knowledgegraphgenerator_spark" / "__init__.py").is_file():
        print(f"kgbench: no knowledgegraphgenerator_spark package under "
              f"{ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = bench(args.workload, args.seed, args.seconds,
                   bool(args.trace), args.tiny)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
