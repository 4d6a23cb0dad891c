"""Dedup-engine benchmark.

    python3 perfbench/run.py --workload {bulk,dense_dups,chain} \\
        --seed N --seconds S --trace {0,1}

One closed-loop client: one Python process drives one SparkSession at
local[nproc] and runs one operation at a time. A run

1. sets up three times (session start, corpus generation from the seed,
   parquet write, load) and then warms up with one full pass; `setup_s` is
   the median set-up plus the warm-up;
2. with --trace 0, repeats full passes until --seconds have passed and
   reports the end-to-end metrics (medians over the passes);
3. with --trace 1, runs one untimed-layer pass and one traced pass (each
   layer call in its own job group, each stage boundary forced, Spark's
   event log joined to the groups) and reports the per-layer metrics.

Every output is checked: clusters against the corpus's planted truth on
every pass, chain rows against their DuckDB oracles once and against the
checked digest on every later pass. A detail line with every timing,
job count and check goes to stdout before the final result line.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SETUP_REPS = 3


class Runner:
    """Runs passes, checks every output and keeps the failure tally."""

    def __init__(self, wl, ctx) -> None:
        self.wl, self.ctx = wl, ctx
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.ref_digests: dict[str, dict] = {}

    def run_pass(self, label: str) -> dict:
        """One pass: every operation once, each in its own job group."""
        ops = {}
        for op in self.wl.ops:
            group = f"{label}:{op}"
            t0 = time.perf_counter()
            try:
                with self.ctx.groups.group(group):
                    out, err = self.wl.run_op(op, self.ctx), None
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                out, err = None, traceback.format_exc(limit=3)
            ops[op] = {"wall_s": time.perf_counter() - t0, "out": out,
                       "error": err, "jobs": self.ctx.groups.jobs(group)}
        return ops

    def check_pass(self, label: str, outs: dict, oracle: bool = False) -> dict:
        """Check every op's output (untimed); returns the op -> values map."""
        vals = {}
        with self.ctx.groups.group(f"{label}:check"):
            for op, out in outs.items():
                self.attempted += 1
                problems = []
                if out is None:
                    problems = ["raised"]
                else:
                    try:
                        problems, vals[op] = self.wl.check(op, out, self.ctx)
                        if oracle:
                            problems += self.wl.oracle_problems({op: out},
                                                                self.ctx)
                        dig = vals[op].get("digests")
                        if dig is not None:
                            ref = self.ref_digests.setdefault(op, dig)
                            if dig != ref:
                                problems.append("output digest changed")
                    except Exception:  # noqa: BLE001
                        problems = [traceback.format_exc(limit=3)]
                if problems:
                    self.failed += 1
                    self.problems += [f"{label}:{op}: {p}" for p in problems]
        self.ctx.spark.catalog.clearCache()
        return vals

    def untraced(self, label: str) -> tuple[dict, dict]:
        ops = self.run_pass(label)
        # record the pins this pass left, then drop them so the next pass
        # is never served by this one's cache
        from perfbench.harness import session_storage

        rdds, storage_mb = session_storage(self.ctx.spark)
        vals = self.check_pass(label, {k: v["out"] if v["error"] is None
                                       else None for k, v in ops.items()})
        for v in ops.values():
            v.pop("out")
        stats = {"wall_s": sum(v["wall_s"] for v in ops.values()),
                 "jobs": sum(v["jobs"] for v in ops.values()),
                 "persisted_rdds": rdds, "storage_mb": storage_mb}
        return {"ops": ops, "stats": stats}, vals


def setup(wl, data_dir: Path, seed: int, trace: bool):
    """SETUP_REPS set-ups; returns (spark, corpus, times)."""
    from perfbench import harness

    spark, times, corpus = None, [], None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = harness.start_session(event_log=trace)
        corpus = wl.write(data_dir, seed)
        spark.read.parquet(str(data_dir / "documents.parquet")).count()
        times.append(time.perf_counter() - t0)
    return spark, corpus, times


def recall_of(vals: dict) -> float | None:
    rs = [v["pair_recall"] for v in vals.values() if "pair_recall" in v]
    return rs[0] if rs else None


def timed_runs(runner: Runner, seconds: float, sampler) -> list[dict]:
    passes = []
    t_end = time.perf_counter() + seconds
    with sampler:
        while not passes or time.perf_counter() < t_end:
            p, vals = runner.untraced(f"p{len(passes) + 1}")
            p["recall"] = recall_of(vals)
            passes.append(p)
    return passes


def traced_run(runner: Runner, wl) -> tuple[dict, dict]:
    """One untraced and one traced pass, then the event-log join."""
    from perfbench import eventlog, harness, metrics

    ctx = runner.ctx
    base, _ = runner.untraced("u1")
    tracer = harness.Tracer(ctx.groups, "trace")
    outs, hot = wl.traced_pass(tracer, ctx)
    traced_wall = sum(s.wall_s for s in tracer.spans if s.parent is None)
    vals = runner.check_pass("trace", outs)
    app_id = ctx.spark.sparkContext.applicationId
    harness.shutdown(ctx.spark)
    ctx.spark = None
    ev = eventlog.read_groups(eventlog.find_log(harness.WORK / "eventlog",
                                                app_id))

    m = {k: 0.0 for k in metrics.per_layer()}
    task_metrics = {}
    for layer in metrics.LAYERS:
        idx = [i for i, s in enumerate(tracer.spans) if s.name == layer]
        g = eventlog.GroupMetrics()
        counts: dict[str, float] = {}
        for i in idx:
            g.add(ev.get(tracer.spans[i].group, eventlog.GroupMetrics()))
            for k, v in tracer.spans[i].counts.items():
                counts[k] = counts.get(k, 0) + v
        task_metrics[layer] = vars(g)
        wall = sum(tracer.self_s(i) for i in idx)
        m[f"{layer}.wall_s"] = wall
        m[f"{layer}.jobs"] = g.jobs
        m[f"{layer}.share"] = wall / traced_wall
        for k in metrics.LAYERS[layer]:
            if k in counts:
                m[f"{layer}.{k}"] = counts[k]
        if layer in ("candidates", "verify"):
            m[f"{layer}.shuffle_mb"] = g.shuffle_write_mb
        if layer == "signature":
            m["signature.python_s"] = g.python_s
            m["signature.docs_per_s"] = counts.get("docs", 0) / wall if wall else 0
    m["candidates.hot_buckets"] = hot
    if m["candidates.pairs"]:
        m["candidates.useful_ratio"] = m["verify.pairs_out"] / m["candidates.pairs"]
    m["checkpoint.bytes_written"] = vals.get("ckpt_dedup", {}).get(
        "bytes_written", 0)
    for op, v in base["ops"].items():
        m[f"ops.{op}.jobs"] = v["jobs"]
    st = base["stats"]
    m["session.wall_s"] = st["wall_s"]
    m["session.jobs"] = st["jobs"]
    m["session.persisted_rdds"] = st["persisted_rdds"]
    m["session.storage_mb"] = st["storage_mb"]
    m["session.spill_mb"] = sum(
        g.spill_mb for name, g in ev.items() if name.startswith("u1:"))
    m["trace.run_s"] = traced_wall
    m["trace.overhead_s"] = traced_wall - st["wall_s"]
    units = metrics.per_layer()
    detail = {"spans": [{"name": s.name, "wall_s": s.wall_s,
                         "self_s": tracer.self_s(i), "parent": s.parent,
                         "counts": s.counts}
                        for i, s in enumerate(tracer.spans)],
              "layer_task_metrics": task_metrics,
              "untraced_ops": base["ops"]}
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from perfbench import harness, metrics, workloads

    harness.prepare_env()
    wl = workloads.make(args.workload)
    data_dir = harness.WORK / "data" / wl.name
    spark = None
    try:
        spark, corpus, setup_times = setup(wl, data_dir, args.seed,
                                           bool(args.trace))
        ctx = workloads.Ctx(spark, harness.JobGroups(spark), corpus,
                            data_dir, harness.WORK)
        runner = Runner(wl, ctx)
        warm = runner.run_pass("warmup")
        warmup_s = sum(v["wall_s"] for v in warm.values())
        runner.check_pass("warmup", {k: v["out"] for k, v in warm.items()},
                          oracle=True)
        detail = {"workload": wl.name, "seed": args.seed,
                  "n_docs": corpus.n_docs, "setup_reps_s": setup_times,
                  "warmup_s": warmup_s}
        if args.trace:
            result_metrics, extra = traced_run(runner, wl)
            spark = ctx.spark
            detail.update(extra)
        else:
            sampler = harness.RssSampler()
            passes = timed_runs(runner, args.seconds, sampler)
            walls = [p["stats"]["wall_s"] for p in passes]
            run_s = statistics.median(walls)
            recalls = [p["recall"] for p in passes if p["recall"] is not None]
            values = {
                "setup_s": statistics.median(setup_times) + warmup_s,
                "run_s": run_s,
                "docs_per_s": corpus.n_docs / run_s,
                "pair_recall": statistics.median(recalls) if recalls else 0.0,
                "peak_rss_mb": sampler.peak_mb,
            }
            result_metrics = {k: {"value": v, "unit": metrics.END_TO_END[k]}
                              for k, v in values.items()}
            detail["run_s"] = metrics.summary(walls)
            detail["ops"] = {
                op: {"s": metrics.summary([p["ops"][op]["wall_s"]
                                           for p in passes]),
                     "jobs": [p["ops"][op]["jobs"] for p in passes]}
                for op in wl.ops}
            detail["session"] = [p["stats"] for p in passes]
    finally:
        harness.shutdown(spark)
    detail["attempted"] = runner.attempted
    detail["failed"] = runner.failed
    detail["ops_failed_frac"] = runner.failed / max(1, runner.attempted)
    detail["problems"] = runner.problems[:20]
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed,
                      "metrics": result_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
