"""Seeded benchmark of the parrsb_spark engine.

    python3 perfbench/run.py --workload webgraph-spmv --seed 7 --seconds 10 --trace 0

Run from the root of a source checkout. One run starts a Spark session
on local[nproc], writes the workload's inputs from the seed (checking
their fingerprint when the seed has one recorded in spec.json), runs one
warm-up pass, then runs passes of the workload's timed steps until both
the workload's pass count (spec.json) and `--seconds` of pass time are
reached. Each step's output is checked
against an independent oracle after the step, outside its timed region.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` (step executions and checks) and `metrics`. With
`--trace 0` the metrics are the end-to-end ones: `job_s`, the sum over
the workload's steps of each step's fastest pass, and `setup_s`, session
start + input write + warm-up pass. With `--trace 1` untraced and traced
passes interleave (untraced, traced, traced, untraced),
every traced call into the engine is a span tagged as its own Spark job
group, and the metrics are the per-layer ones, taken from the spans, the
RSB lineage log and the Spark event log. A human-readable summary goes
to standard error.

Everything the run writes stays under `.perfbench/` in the checkout; the
work directory is deleted at the end, the span file of a traced run is
kept under `.perfbench/traces/`.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import uuid

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str, spec: dict) -> None:
    """Confine the JVM, the Python workers and their temp files to `work`,
    and let the workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = spec["driver_memory"]
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        [os.environ.get("SPARK_SUBMIT_OPTS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    ).strip()
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # engine options come from the workload spec alone
    for key in [k for k in os.environ if k.startswith("PARRSB_SPARK_")]:
        del os.environ[key]


def proc_tree() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def descendants(pid: int) -> set[int]:
    ppid = proc_tree()
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        for c, pp in ppid.items():
            if pp == p and c not in out:
                out.add(c)
                todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and every process below it,
    including exited children they have reaped."""
    total = 0
    for pid in {root} | descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def host_steal() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every process
    this run started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.time() + 30
        time.sleep(0.1)


class Pass:
    def __init__(self, traced: bool):
        self.traced = traced
        self.steps: list[dict] = []
        self.ok = True

    @property
    def wall(self) -> float:
        return sum(s["wall"] for s in self.steps)


class Runner:
    def __init__(self, args, spec: dict, work: str):
        from spans import Tracer
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        self.args = args
        self.spec = spec
        self.work = work
        self.seed = args.seed
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer(uuid.uuid4().hex[:8])
        self.spark = None
        self.wl = WORKLOADS[args.workload](self, spec["workloads"][args.workload])
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._dirs = 0

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, "out", f"{name}-{self._dirs}")

    def jvm_gc_s(self) -> float:
        """GC time so far of the one JVM that runs driver and executors."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"FAILED: {msg}", file=sys.stderr)

    # -- set-up ---------------------------------------------------------
    def start_session(self) -> float:
        from parrsb_spark.session import get_spark
        from spans import EVENT_LOG_CONF

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf.update(EVENT_LOG_CONF)
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                master=f"local[{self.cores}]",
                app_name=f"perfbench-{self.args.workload}",
                shuffle_partitions=self.cores,
                extra_conf=conf,
            )
        self.tracer.sc = self.spark.sparkContext
        return time.perf_counter() - t0

    def generate_inputs(self) -> float:
        """Write the inputs once and check their fingerprint."""
        path = os.path.join(self.work, "input.parquet")
        t0 = time.perf_counter()
        self.wl.generate(path)
        gen_s = time.perf_counter() - t0
        got = self.wl.fingerprint(path)
        want = self.spec["fingerprints"].get(self.args.workload, {}).get(str(self.seed))
        print(f"input fingerprint {self.args.workload} seed {self.seed}: {json.dumps(got)}", file=sys.stderr)
        self.attempted += 1
        if want is not None and want != got:
            raise SystemExit(
                f"input fingerprint mismatch for {self.args.workload} seed {self.seed}: "
                f"got {got}, recorded {want}; the generators changed the workload"
            )
        return gen_s

    # -- passes ---------------------------------------------------------
    def run_pass(self, traced: bool, wl=None) -> Pass:
        from workloads import CheckFailed

        wl = wl or self.wl
        p = Pass(traced)
        self.tracer.enabled = traced
        with self.tracer.span("pass"):
            for step in wl.steps:
                gc.collect()
                self.spark.catalog.clearCache()
                rec = {"step": step}
                self.attempted += 1
                with self.tracer.span(f"step.{step}") as sp:
                    rec["start"] = time.time()
                    c0, st0, gc0 = tree_cpu_s(os.getpid()), host_steal(), self.jvm_gc_s()
                    t0 = time.perf_counter()
                    try:
                        out = wl.run(step)
                    except Exception as e:  # a failing step is counted, not fatal
                        out = None
                        self.fail(f"{step}: {type(e).__name__}: {e}")
                    rec["wall"] = time.perf_counter() - t0
                    rec["end"] = time.time()
                    st1 = host_steal()
                    rec["cpu"] = tree_cpu_s(os.getpid()) - c0
                    rec["steal"] = (st1[0] - st0[0]) / max(st1[1] - st0[1], 1)
                    rec["gc"] = self.jvm_gc_s() - gc0
                rec["span"] = sp["id"] if sp else None
                if out is None:
                    p.ok = False
                    p.steps.append(rec)
                    continue
                try:
                    rec["digest"] = wl.check(step, out)
                except CheckFailed as e:
                    p.ok = False
                    self.fail(str(e))
                wl.release(step, out)
                rec["out"] = out if isinstance(out, dict) else None
                p.steps.append(rec)
        self.tracer.enabled = False
        return p

    def measure(self) -> list[Pass]:
        passes: list[Pass] = []
        elapsed = 0.0
        # At least the workload's pass count: later passes run warmer, so
        # a count that varied with host speed would add its own spread.
        while elapsed < self.args.seconds or len(passes) < self.wl.spec["passes"]:
            # untraced, traced, traced, untraced, ...: with four passes both
            # kinds get the same mean position, so warming does not bias
            # the overhead; with two, the traced pass runs warmer
            p = self.run_pass(traced=bool(self.args.trace) and len(passes) % 4 in (1, 2))
            passes.append(p)
            elapsed += p.wall
            print(
                f"pass {len(passes)} {'traced' if p.traced else 'untraced'}: "
                + " ".join(f"{s['step']}={s['wall']:.3f}s/cpu={s.get('cpu', 0):.2f}s/steal={s.get('steal', 0):.3f}"
                           for s in p.steps),
                file=sys.stderr,
            )
        return passes

    # -- run ------------------------------------------------------------
    def mark(self, what: str) -> None:
        print(f"[{time.perf_counter() - T0:7.2f}s] {what}", file=sys.stderr)

    def run(self) -> dict:
        self.mark("start")
        self.tracer.enabled = bool(self.args.trace)
        start_s = self.start_session()
        self.mark("session up")
        gen = self.generate_inputs()
        self.mark("inputs written")
        self.tracer.enabled = False
        warm = self.run_pass(traced=False)
        warmup_s = warm.wall
        self.mark("warm-up done")
        passes = self.measure()
        self.mark("passes done")
        good = [p for p in passes if p.ok]
        if not good:
            raise SystemExit("no pass completed without a failure: " + "; ".join(self.errors[:5]))
        layer, touched, touch_steps = {}, [], {}
        if self.args.trace:
            self.tracer.enabled = True
            touched, touch_steps, layer = self.touch_other_workloads()
            layer.update(self.wl.layer_probes())
            self.tracer.enabled = False
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0
        stop_spark(self.spark)
        self.mark("spark stopped")

        setup = {"session.start_s": start_s, "sources.gen_s": gen, "session.warmup_s": warmup_s}
        steps = {**touch_steps, **step_summary(self.wl, good)}
        print("summary " + json.dumps({"setup": setup, "steps": steps, "errors": self.errors[:5]}), file=sys.stderr)
        if self.args.trace:
            metrics = self.layer_metrics(setup, warm, passes, touched, steps, layer)
            metrics["driver.peak_rss_mb"] = (rss_mb, "MB")
        else:
            metrics = {
                "job_s": (sum(steps[f"{s}.wall_s"][0] for s in self.wl.steps), "s"),
                "setup_s": (sum(setup.values()), "s"),
            }
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def touch_other_workloads(self):
        """Traced run only: one traced pass of every other workload's steps
        (checked like any pass) and its layer probes, on a small input of
        its kind ("touch" sizes in spec.json), so that every per-layer
        metric is measured on every workload."""
        from workloads import WORKLOADS

        passes, steps, layer = [], {}, {}
        for name, cls in WORKLOADS.items():
            if name == self.args.workload:
                continue
            spec = self.spec["workloads"][name]
            other = cls(self, {**spec, **spec["touch"]})
            with self.tracer.span(f"touch.{name}"):
                other.generate(self.fresh_dir("touch-input") + ".parquet")
                p = self.run_pass(traced=True, wl=other)
                layer.update(other.layer_probes())
            self.mark(f"touched {name}")
            passes.append(p)
            steps.update(step_summary(other, [p]))
        return passes, steps, layer

    def layer_metrics(self, setup, warm, passes, touched, steps, layer) -> dict:
        from spans import (event_log_file, jobs_in_groups, jobs_in_window, read_event_log,
                           self_times, span_subtree, sum_jobs)

        spans = self.tracer.spans
        jobs = read_event_log(event_log_file(self.event_dir))
        per = {}  # step -> {"U": [...], "T": [...]}
        untagged = 0
        for p in passes + touched:
            for r in p.steps:
                if "digest" not in r:
                    continue
                win = jobs_in_window(jobs, r["start"], r["end"])
                row = {"jobs": len(win), "digest": r["digest"], "wall": r["wall"]}
                if p.traced:
                    groups = {self.tracer.group_of(s) for s in span_subtree(spans, r["span"])}
                    tagged = jobs_in_groups(jobs, groups)
                    untagged += len({j["job"] for j in win} - {j["job"] for j in tagged})
                    row["stage"] = sum_jobs(tagged)
                per.setdefault(r["step"], {"U": [], "T": []})["T" if p.traced else "U"].append(row)

        m: dict[str, tuple[float, str]] = {}
        for k, v in setup.items():
            m[k] = (v, "s")
        mismatches = 0
        for step, d in per.items():
            if not d["U"]:
                continue  # a touched step runs traced only
            self.attempted += 1
            # A step's job count can differ by one between passes whether
            # traced or not (runtime re-planning under AQE; seen both ways
            # on rsb and ingest), so tracing is faulted when the closest
            # traced and untraced counts differ by more than one job.
            ju = sorted(r["jobs"] for r in d["U"])
            jt = sorted(r["jobs"] for r in d["T"])
            closest = min(abs(a - b) for a in ju for b in jt)
            if closest > 1 or {r["digest"] for r in d["U"]} != {r["digest"] for r in d["T"]}:
                mismatches += 1
                self.fail(f"trace changed {step}: jobs {ju} untraced vs {jt} traced, or its output")
            print(f"jobs per pass {step}: untraced {ju} traced {jt}", file=sys.stderr)
        u_wall = statistics.median(p.wall for p in passes if not p.traced and p.ok)
        t_wall = statistics.median(p.wall for p in passes if p.traced and p.ok)
        m["trace.overhead_frac"] = (t_wall / u_wall - 1.0, "1")
        m["trace.job_count_mismatches"] = (mismatches, "count")
        m["trace.untagged_jobs"] = (untagged, "count")
        m["warmup.first_pass_ratio"] = (warm.wall / u_wall, "1")
        measured = [r for p in passes for r in p.steps]
        m["host.steal_frac"] = (statistics.median(r["steal"] for r in measured), "1")

        # per-step wall times over all good passes; event-log stage
        # metrics over the traced passes
        for step in ALL_STEPS:
            m[f"{step}.wall_s"] = steps.get(f"{step}.wall_s", (0.0, "s"))
            t_rows = per.get(step, {"T": []})["T"]
            for key, unit in STAGE_KEYS:
                vals = [r["stage"][key] for r in t_rows]
                m[f"{step}.{STAGE_NAMES.get(key, key)}"] = (statistics.median(vals) if vals else 0, unit)
            cpu = [r["cpu"] for p in passes + touched for r in p.steps if r["step"] == step]
            m[f"{step}.process_cpu_s"] = (min(cpu) if cpu else 0.0, "s")
            # JVM-wide: in local mode the driver and the executors share it
            gc = [r["gc"] for p in passes + touched for r in p.steps if r["step"] == step]
            m[f"{step}.gc_s"] = (statistics.median(gc) if gc else 0.0, "s")
            busy = [r["stage"]["run_s"] / (r["wall"] * self.cores) for r in t_rows]
            m[f"{step}.executor_busy_frac"] = (statistics.median(busy) if busy else 0.0, "1")

        for key, unit in LAYER_KEYS.items():
            m[key] = (float(layer.get(key, 0.0)), unit)
        for key, unit in EXTRA_KEYS.items():
            m[key] = steps.get(key, (0.0, unit))
        if "pagerank.wall_s" in steps:
            iters = self.spec["workloads"]["webgraph-spmv"]["pagerank_iters"]
            iter_s = (steps["pagerank.wall_s"][0] - m["pagerank.setup_s"][0]) / iters
            m["pagerank.iter_s"] = (iter_s, "s")
            m["pagerank.loop_overhead_s"] = (iter_s - m["functions.gather_scatter_s"][0], "s")

        # self time per span name, written out with the spans
        st = self_times(spans)
        by_name: dict[str, float] = {}
        for s in spans:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + st[s["id"]]
        path = os.path.join(ROOT, ".perfbench", "traces",
                            f"{self.args.workload}-seed{self.seed}-{self.tracer.run_id}.json")
        self.tracer.write(path)
        print("span self time (s): " + json.dumps({k: round(v, 3) for k, v in sorted(by_name.items())}),
              file=sys.stderr)
        print(f"spans written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
        return m


ALL_STEPS = ("pagerank", "cc", "labelprop", "rsb", "ingest", "triangles")
STAGE_KEYS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("run_s", "s"), ("cpu_s", "s"),
    ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
)
STAGE_NAMES = {"run_s": "executor_run_s", "cpu_s": "executor_cpu_s"}
LAYER_KEYS = {
    "sources.extract_links_s": "s",
    "functions.dense_ids_s": "s",
    "sources.bytes_per_edge": "B",
    "sources.edge_rows": "count",
    "sources.vertex_rows": "count",
    "functions.gather_scatter_s": "s",
    "functions.symmetrize_s": "s",
    "pagerank.setup_s": "s",
}
EXTRA_KEYS = {
    "pagerank.iter_s": "s",
    "pagerank.loop_overhead_s": "s",
    "pagerank.edge_iters_per_s": "1/s",
    "ingest.pages_per_s": "1/s",
    "rsb.edge_cut_frac": "1",
    "rsb.imbalance": "1",
    "rsb.phase.fiedler_s": "s",
    "rsb.phase.sort_s": "s",
    "rsb.phase.checkpoint_s": "s",
    "fiedler.niter": "count",
    "fiedler.lanczos_iter_s": "s",
    "plans.ckpt_bytes": "B",
    "plans.lineage_rows": "count",
}


def step_summary(wl, passes: list[Pass]) -> dict[str, tuple[float, str]]:
    """Each step's fastest wall time over the run's passes, and the
    numbers a step's output carries (RSB quality, phases, checkpoint
    sizes). The minimum drops a stall that hit one pass (a GC pause, a
    JIT compile on the driver); the spread between runs is left to the
    median over runs."""
    out: dict[str, tuple[float, str]] = {}
    rows: dict[str, list[dict]] = {}
    for p in passes:
        for r in p.steps:
            rows.setdefault(r["step"], []).append(r)
    med = statistics.median
    for step, rs in rows.items():
        out[f"{step}.wall_s"] = (min(r["wall"] for r in rs), "s")
    if "pagerank" in rows:
        out["pagerank.edge_iters_per_s"] = (
            wl.input_rows() * wl.spec["pagerank_iters"] / out["pagerank.wall_s"][0], "1/s")
    if "ingest" in rows:
        out["ingest.pages_per_s"] = (wl.input_rows() / out["ingest.wall_s"][0], "1/s")
    if "rsb" in rows:
        o = [r["out"] for r in rows["rsb"]]
        out["rsb.edge_cut_frac"] = (o[-1]["cut_frac"], "1")
        out["rsb.imbalance"] = (o[-1]["imbalance"], "1")
        for phase in ("fiedler", "sort", "checkpoint"):
            out[f"rsb.phase.{phase}_s"] = (med(x["phases"].get(f"rsb/{phase}", {}).get("wall_s", 0.0) for x in o), "s")
        niter = med(x["phases"].get("fiedler/niter", {}).get("rows", 0) for x in o)
        lanczos = med(x["phases"].get("fiedler/lanczos", {}).get("wall_s", 0.0) for x in o)
        out["fiedler.niter"] = (niter, "count")
        out["fiedler.lanczos_iter_s"] = (lanczos / niter if niter else 0.0, "s")
        out["plans.ckpt_bytes"] = (med(x["ckpt_bytes"] for x in o), "B")
        out["plans.lineage_rows"] = (med(x["lineage_rows"] for x in o), "count")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, spec)
    sys.path.insert(0, ROOT)
    try:
        import parrsb_spark

        if not os.path.abspath(parrsb_spark.__file__).startswith(ROOT + os.sep):
            raise SystemExit(f"parrsb_spark imported from {parrsb_spark.__file__}, not from {ROOT}")

        out = sys.stdout
        with contextlib.redirect_stdout(sys.stderr):
            runner = Runner(args, spec, work)
            try:
                result = runner.run()
            finally:
                if runner.spark is not None and runner.spark.sparkContext._jsc is not None:
                    stop_spark(runner.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), file=out, flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
