#!/usr/bin/env python3
"""Benchmark of the package's pipelines, end to end and per layer.

    python3 perfbench/run.py --workload imaging_cycle --seed 1 --seconds 10 --trace 0

Workloads (perfbench/README.md says why each exists):
  imaging_cycle  read_vis -> Briggs weights -> dirty image + PSF -> CLEAN
                 -> degrid the model -> residual
  prep_dedup     read_vis -> rflag + tfcrop + apply_flags -> self_cal ->
                 time + chan average -> flag_summary -> write_vis; then
                 dedup_corpus and cosine_pairs_lsh on a generated corpus

One process is one invocation: start a Spark session on local[cores], write
the seeded inputs (three times, timing each), run the workload once untimed
to warm up, then run it back to back (a closed loop, one client) for
``--seconds``, at least once, checking every run's correctness gate.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs untraced
and then traced, and reports the per-layer metrics. The last line of stdout
is the result JSON; the lines before it give the configuration and every
metric with its unit. The full record, with the spans, goes to
.perfbench/out/.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 160.0  # stop starting runs after this much wall time
SETTLE_S = 1.0  # pause before each measured run, for the JIT compile queue to drain
N_SETUP = 3  # input generations per invocation (setup_s takes their median)
MEMORY = "2g"
# The driver JVM compiles with C1 only. Spark's generated classes overflow its
# 100-entry codegen cache, so every run brings new classes to compile: with C2
# the compiler threads spent 8-25 s per run on them, and runs kept getting
# faster for 5-6 runs, so a run's time depended on how far the JIT had got.
# With C1 the runs after the warm-up are level. C1's default code cache filled
# within three runs and stopped compilation, hence the larger cache.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m"

END_TO_END = {"wall_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}
SPANS = ("sources.read_vis", "imaging.weights", "imaging.image.dirty_psf",
         "imaging.deconvolve", "imaging.degrid", "operators.flags", "calibration",
         "operators.averaging", "operators.statistics", "sources.write_vis",
         "dedup", "similarity")
SPAN_UNITS = {"build_s": "s", "eager_jobs": "count", "exec_s": "s", "cpu_s": "s",
              "python_s": "s", "gc_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}
COUNT_UNITS = {
    "operators.flags.flagged_frac": "fraction", "calibration.solutions": "count",
    "imaging.deconvolve.components": "count", "imaging.degrid.null_frac": "fraction",
    "dedup.candidates": "count", "dedup.pairs": "count", "dedup.yield": "fraction",
    "similarity.candidates": "count", "similarity.pairs": "count",
    "similarity.yield": "fraction", "sources.read_vis.read_mb": "MB",
    "sources.write_vis.write_mb": "MB",
    "plans.driver_s": "s", "plans.jobs": "count", "trace_overhead_s": "s"}
# CHILES with the reference prototype (BASELINE.md md 9): 727,272 rows x
# 30,720 chans x 2 pols at support 17 in 45 min on 128 cores
CHILES_TAPS_PER_S_CORE = 727_272 * 30_720 * 2 * 17 * 17 / (45 * 60) / 128


def per_layer_units() -> dict[str, str]:
    out = {f"{s}.{m}": u for s in SPANS for m, u in SPAN_UNITS.items()}
    out.update(COUNT_UNITS)
    return out


class Terminated(BaseException):
    """SIGTERM arrived; unwinds past ``except Exception`` run boundaries."""


class DeadlineExceeded(Exception):
    """Set-up left no time to measure within the run's wall budget."""


def _on_sigterm(signum, frame):
    raise Terminated()


# --- processes --------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reset_peak_rss(pid: int) -> None:
    """Reset the peak resident size (VmHWM) of every process in the tree."""
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pid: int) -> float:
    """Sum over the tree of each process's peak resident size since reset."""
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total / 1024


# --- harness ----------------------------------------------------------------

def git_commit() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may use (nproc)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or len(os.sched_getaffinity(0))


class Bench:
    def __init__(self, args, wl):
        self.args, self.wl = args, wl
        self.t0 = time.monotonic()
        self.work = os.path.join(BENCH_DIR, "work", str(os.getpid()))
        self.spark = None
        self.runs: list[dict] = []
        self.spans: list[dict] = []
        self.layers: list[dict] = []
        self.config: dict = {}

    def elapsed(self) -> float:
        return time.monotonic() - self.t0

    def start_session(self):
        from cngi_prototype_spark.session import initialize_framework

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp  # Python workers inherit it through the JVM
        tempfile.tempdir = tmp  # PySpark's gateway handshake file
        cores = default_cores()
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        self.spark = initialize_framework(cores=cores, memory=MEMORY, app_name="perfbench",
                                          shuffle_partitions=cores, extra_conf=conf)
        self.cores = cores

    def close(self):
        """Stop Spark, its JVM and the JVM's Python workers, and wait for them."""
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            tree = process_tree(proc.pid)[1:] if proc is not None else []
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001 - shutting down regardless
                traceback.print_exc()
            self.spark = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            end = time.monotonic() + 15
            while any(_alive(p) for p in tree) and time.monotonic() < end:
                time.sleep(0.1)
            for p in tree:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
        shutil.rmtree(self.work, ignore_errors=True)

    def setup(self):
        from perfbench import workloads

        t = time.monotonic()
        self.start_session()
        session_s = time.monotonic() - t
        gen_s = []
        for k in range(N_SETUP):
            path = os.path.join(self.work, f"store{k}")
            t = time.monotonic()
            truth, shape, inputs = self.wl.make_store(path, self.args.seed)
            gen_s.append(time.monotonic() - t)
            if k:
                shutil.rmtree(os.path.join(self.work, f"store{k - 1}"))
        self.ctx = workloads.Ctx(self.spark, path, self.work, truth)
        self.inputs = inputs
        self.shape = shape
        t = time.monotonic()
        warm = self.one_run(label="warmup")
        warm_s = time.monotonic() - t
        self.setup_parts = {"session_s": session_s, "gen_s": gen_s, "warmup_s": warm_s,
                            "warmup_ok": warm["ok"]}
        self.setup_s = session_s + statistics.median(gen_s) + warm_s
        sc = self.spark.sparkContext
        self.config = {
            "workload": self.wl.name, "seed": self.args.seed, "seconds": self.args.seconds,
            "trace": self.args.trace, "cores": self.cores, "master": sc.master,
            "spark_version": self.spark.version, "python": sys.version.split()[0],
            "git_commit": git_commit(), "input_shape": shape,
            "loop": "closed, 1 client", "conf": dict(sc.getConf().getAll()),
        }

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def settle(self) -> None:
        """Start every measured run from the same state: both heaps
        collected, the JIT's compile queue given time to drain, and the
        peak-RSS counters reset."""
        gc.collect()
        self.spark._jvm.System.gc()
        time.sleep(SETTLE_S)
        reset_peak_rss(self.jvm_pid())

    def one_run(self, tracer=None, label: str = "timed", after=None) -> dict:
        """One workload run: the timed call chain, then its gate (untimed).

        ``after(got)`` runs on a passing run before its frames are released."""
        from perfbench.tracer import NullTracer

        ctx = self.ctx
        ctx.tracer = tracer or NullTracer()
        rec = {"label": label, "ok": False, "errors": []}
        try:
            t = time.monotonic()
            with ctx.tracer.run(self.wl.name):
                out = self.wl.run(ctx)
            rec["wall_s"] = time.monotonic() - t
            rec["peak_rss_mb"] = peak_rss_mb(self.jvm_pid())
            rec["chain_s"] = out.get("chain_s", {"vis": rec["wall_s"]})
            got = self.wl.collect(out)
            rec["errors"] = self.wl.gate(got, ctx.truth)
            rec["ok"] = not rec["errors"]
            if rec["ok"] and after is not None:
                after(got)
        except Exception as e:  # noqa: BLE001 - a failed run is counted, not fatal
            traceback.print_exc()
            rec["errors"] = [f"{type(e).__name__}: {e}"[:300]]
        finally:
            ctx.release()
        self.runs.append(rec)
        return rec

    def loop(self, seconds: float, one) -> list[dict]:
        """Closed loop: runs back to back, at least one, and no run that
        would (at the mean run time so far) end past ``seconds``."""
        t = time.monotonic()
        out = []
        while True:
            self.settle()
            out.append(one())
            done = time.monotonic() - t
            per = done / len(out)
            if done + per > seconds:
                return out
            if self.elapsed() + per > DEADLINE_S:
                out[-1]["stopped_by_deadline"] = True
                return out

    def traced_run(self, base_wall: float) -> dict:
        from perfbench import tracer as tr

        run_id = f"{self.wl.name}-s{self.args.seed}-r{len(self.layers)}"
        tracer = tr.Tracer(self.spark, run_id)

        def after(got):
            jobs, stages = tr.read_status(self.spark)
            costs = tr.span_costs(tracer, jobs, stages)
            layer = {f"{s}.{m}": costs.get(s, {}).get(m, 0.0)
                     for s in SPANS for m in SPAN_UNITS}
            layer.update(dict.fromkeys(COUNT_UNITS, 0.0))
            layer.update(self.wl.counts(self.ctx, got))
            layer["sources.read_vis.read_mb"] = costs.get("sources.read_vis", {}).get("read_mb", 0.0)
            layer["sources.write_vis.write_mb"] = costs.get("sources.write_vis", {}).get("write_mb", 0.0)
            layer["plans.driver_s"], layer["plans.jobs"] = tr.driver_time(tracer.spans[0], jobs)
            layer["trace_overhead_s"] = tracer.spans[0].duration - base_wall
            self.layers.append(layer)
            self.spans.extend(tr.spans_json(tracer))
            self.spans.extend({"run_id": run_id, "layer": n, **c} for n, c in costs.items())

        return self.one_run(tracer, "traced", after)

    def measure(self) -> dict:
        if self.elapsed() > DEADLINE_S:
            raise DeadlineExceeded(f"set-up took {self.elapsed():.0f} s")
        if not self.args.trace:
            runs = self.loop(self.args.seconds, self.one_run)
            # a run that failed its gate was still timed; one that raised was not
            walls = [r["wall_s"] for r in runs if "wall_s" in r]
            return {"runs": runs, "wall_s": statistics.median(walls) if walls else 0.0,
                    "walls": walls,
                    "peak_rss_mb": max((r["peak_rss_mb"] for r in runs if "wall_s" in r),
                                       default=0.0)}
        half = self.args.seconds / 2
        plain = self.loop(half, lambda: self.one_run(label="untraced"))
        walls = [r["wall_s"] for r in plain if "wall_s" in r]
        base = statistics.median(walls) if walls else 0.0
        traced = self.loop(half, lambda: self.traced_run(base))
        return {"runs": plain + traced, "untraced_wall_s": base}


def report(b: Bench, res: dict) -> dict:
    """Print the config and the metric lines; return the result object."""
    runs = res["runs"]
    attempted = len(runs)
    failed = sum(not r["ok"] for r in runs)
    print(json.dumps({"config": b.config}, default=str))
    info = {"workload": b.wl.name, "seed": b.args.seed, "samples": attempted,
            "error_rate": {"value": failed / attempted if attempted else 1.0,
                           "unit": "fraction"},
            "setup": b.setup_parts}
    if not b.args.trace:
        metrics = {"wall_s": res["wall_s"], "peak_rss_mb": res["peak_rss_mb"],
                   "setup_s": b.setup_s}
        out_metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        walls = res["walls"]
        info["wall_s"] = {"median": res["wall_s"], "min": min(walls, default=None),
                          "max": max(walls, default=None), "n": len(walls), "unit": "s"}
        ok = [r for r in res["runs"] if r["ok"]]
        for chain in ("vis", "docs"):
            if ok and chain in ok[0]["chain_s"]:
                t = statistics.median(r["chain_s"][chain] for r in ok)
                info[f"{chain}_per_s"] = {"value": b.inputs[chain] / t, "unit": f"{chain}/s",
                                          "chain_s": t}
        if b.wl.name == "imaging_cycle" and res["wall_s"] > 0:
            support = b.shape["support"]
            taps = 2 * b.inputs["vis"] * support * support  # gridding + degridding
            info["taps_per_s_core"] = {
                "value": taps / res["wall_s"] / b.cores, "unit": "taps/s/core",
                "chiles_baseline": CHILES_TAPS_PER_S_CORE}
        info["peak_rss_mb"] = {"value": res["peak_rss_mb"], "unit": "MB"}
        info["setup_s"] = {"value": b.setup_s, "unit": "s"}
    else:
        units = per_layer_units()
        layers = b.layers
        out_metrics = {k: {"value": statistics.median(l[k] for l in layers) if layers
                           else 0.0, "unit": u} for k, u in units.items()}
        info["traced_runs"] = len(layers)
        info["untraced_wall_s"] = res["untraced_wall_s"]
    print(json.dumps({"report": info}, default=str))
    os.makedirs(os.path.join(BENCH_DIR, "out"), exist_ok=True)
    path = os.path.join(BENCH_DIR, "out",
                        f"{b.wl.name}-s{b.args.seed}-t{b.args.trace}.json")
    with open(path, "w") as f:
        json.dump({"config": b.config, "report": info, "metrics": out_metrics,
                   "runs": b.runs, "spans": b.spans}, f, default=str, indent=1)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out_metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import cngi_prototype_spark  # noqa: F401
        import pyspark  # noqa: F401

        from perfbench import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(one of {', '.join(workloads.WORKLOADS)})", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _on_sigterm)
    b = Bench(args, workloads.WORKLOADS[args.workload])
    try:
        b.setup()
        res = b.measure()
        result = report(b, res)
    except (Terminated, DeadlineExceeded) as e:
        reason = "SIGTERM" if isinstance(e, Terminated) else f"deadline: {e}"
        print(json.dumps({"partial": {"reason": reason, "config": b.config,
                                      "runs": b.runs}}, default=str))
        return 143 if isinstance(e, Terminated) else 1
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        b.close()
    print(json.dumps(result))
    return 0 if result["attempted"] else 1


if __name__ == "__main__":
    sys.exit(main())
