"""Benchmark of the engine, run from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed (cached per seed and size,
never timed), sets the engine up, runs the workload's passes for S
seconds, checks every output, and prints one JSON object as the last
line of stdout.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics from Spark's event log and
the benchmark's spans, and writes the full record under
``.perfbench_work/trace``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from statistics import median  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
#: fresh-JVM set-ups per timed run; setup_s reports their median
SETUPS = 3
#: warm-up passes of the traced run's local[1] session
LOCAL1_WARMUP = 2
#: the checkout files the benchmark drives (everything else is generated)
NEEDS = ("map_reduce_multi_threaded_spark/session.py", "scripts/gen_altfixture.py", "tests/oracle_utils.py")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Runner:
    def __init__(self, workload, seconds: float, confs: dict) -> None:
        from perfbench.trace import Tracer

        self.wl = workload
        self.seconds = seconds
        self.confs = confs
        self.tracer = Tracer(False)
        self.spark = None
        self.specs = None
        self.attempted = 0
        self.failures: list[str] = []
        self.check_s = 0.0

    def start(self, master: str, extra: dict | None = None) -> tuple[float, float]:
        """Start a session and load the registry; return both times."""
        from map_reduce_multi_threaded_spark.registry import collect_specs
        from map_reduce_multi_threaded_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.wl.name}", master=master,
                                   extra_confs={**self.confs, **(extra or {})})
        t1 = time.perf_counter()
        with self.tracer.span("registry.collect_specs"):
            self.specs = {s.name: s for s in collect_specs()}
        return t1 - t0, time.perf_counter() - t1

    def stop(self) -> None:
        from perfbench import engine

        engine.stop(self.spark)
        self.spark = None

    def one_pass(self, label: str):
        self.tracer.run = label
        p = self.wl.run_pass(self.spark, self.specs, self.tracer, label)
        self.attempted += len(p.steps)
        t = time.perf_counter()
        self.failures += [f"{label}: {m}" for m in self.wl.check(p, self.specs)]
        self.check_s += time.perf_counter() - t
        return p

    def warm_up(self, prefix: str, n: int) -> list[float]:
        """Run ``n`` unmeasured passes; return their seconds.  The first
        is the cold pass; the rest let the JIT settle."""
        return [self.one_pass(f"{prefix}{i}").seconds for i in range(n)]

    def measure(self, prefix: str) -> list:
        """Passes until ``seconds`` have been measured (at least one)."""
        passes, spent = [], 0.0
        while spent < self.seconds or not passes:
            p = self.one_pass(f"{prefix}{len(passes) + 1}")
            passes.append(p)
            spent += p.seconds
        return passes

    def peak_rss_mb(self) -> float:
        from perfbench import engine

        return engine.vm_hwm_mb("self") + engine.vm_hwm_mb(engine.jvm_pid())


def timed_run(r: Runner, master: str, prep_s: float) -> dict:
    """End-to-end metrics, tracing off."""
    pre_s = time.perf_counter() - T_START - prep_s
    starts = []
    for k in range(SETUPS):
        get_s, reg_s = r.start(master)
        starts.append(get_s + reg_s)
        if k < SETUPS - 1:
            r.stop()
    warm = r.warm_up("warm", r.wl.warmup_passes)
    passes = r.measure("p")
    r.stop()
    _log(f"imports {pre_s:.3f} set-ups {[round(s, 3) for s in starts]} warm-up {[round(w, 3) for w in warm]} "
         f"passes {[round(p.seconds, 3) for p in passes]} checks {r.check_s:.2f}")
    for p in passes:
        _log(f"  {p.label}: " + ", ".join(f"{s.name} {s.build_s:.2f}+{s.exec_s:.2f}" for s in p.steps))
    return {
        # the JIT warm-up passes after the cold one are in neither metric
        "setup_s": (pre_s + median(starts) + warm[0], "s"),
        "wall_s": (median([p.seconds for p in passes]), "s"),
    }


def traced_run(r: Runner, master: str, cores: int) -> dict:
    """Per-layer metrics: an untraced session, then a traced one with
    Spark's event log on, then (word count only) a local[1] session."""
    from perfbench import eventlog, layers
    from perfbench.trace import Tracer

    get_u, reg_first = r.start(master)
    cold_s = r.warm_up("warm", r.wl.warmup_passes)[0]
    untraced = r.measure("u")
    rss = r.peak_rss_mb()
    r.stop()

    logdir = os.path.join(WORK, "eventlog", f"{r.wl.name}-s{r.wl.seed}-{os.getpid()}")
    os.makedirs(logdir)
    r.tracer = Tracer(True)
    r.tracer.run = "setup"
    get_spark_s, reg_repeat = r.start(master, eventlog.confs(logdir))
    r.warm_up("twarm", r.wl.warmup_passes)
    traced = r.measure("t")
    r.stop()
    tracer, r.tracer = r.tracer, Tracer(False)
    spans = tracer.spans

    local1 = None
    if r.wl.name == "wordcount_corpus" and cores > 1:
        # a local[1] pass takes about 3x a local[4] one: a full warm-up
        # would push the traced run towards its time limit
        r.start("local[1]")
        r.warm_up("warm1_", LOCAL1_WARMUP)
        local1 = [p.seconds for p in r.measure("one")]
        r.stop()

    log = eventlog.load(logdir)
    shutil.rmtree(logdir)
    metrics, notes = layers.compute(
        workload=r.wl.name, cores=cores, log=log, spans=spans, traced=traced, untraced=untraced,
        setup={"session.get_spark_s": get_spark_s, "registry.collect_specs_s": reg_first,
               "registry.collect_specs_repeat_s": reg_repeat, "setup.warm_s": cold_s,
               "memory.peak_rss_mb": rss},
        local1_walls=local1, words=r.wl.words() if r.wl.name == "wordcount_corpus" else None,
    )
    record = {
        "workload": r.wl.name, "seed": r.wl.seed, "cores": cores, "metrics": metrics, "notes": notes,
        "untraced_walls": [p.seconds for p in untraced], "traced_walls": [p.seconds for p in traced],
        "local1_walls": local1, "untraced_session_get_spark_s": get_u,
        "steps": [{"pass": p.label, "step": s.name, "build_s": s.build_s, "exec_s": s.exec_s,
                   "error": s.error, "batches": len(s.batches)} for p in untraced + traced for s in p.steps],
    }
    out = os.path.join(WORK, "trace")
    os.makedirs(out, exist_ok=True)
    base = os.path.join(out, f"{r.wl.name}-s{r.wl.seed}")
    with open(base + ".json", "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    tracer.dump(base + ".spans.jsonl")
    _log(f"trace record: {base}.json")
    for name, why in sorted(notes.items()):
        _log(f"  {name}: {why}")
    return {name: (value, layers.unit(name)) for name, value in metrics.items()}


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in NEEDS if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        _log(f"engine sources not found in {ROOT}: {missing}")
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"

    from perfbench import engine

    wl = WORKLOADS[args.workload](ROOT, WORK, args.seed)
    prep_s = wl.prepare()
    confs = engine.keep_writes_in(WORK)
    _log(f"{wl.name} seed {args.seed}: inputs ready in {prep_s:.2f} s (untimed)")

    r = Runner(wl, args.seconds, confs)
    try:
        metrics = traced_run(r, master, cores) if args.trace else timed_run(r, master, prep_s)
    finally:
        if r.spark is not None:
            r.stop()
    for msg in r.failures:
        _log(f"FAILED {msg}")
    result = {
        "correct": not r.failures and r.attempted > 0,
        "attempted": r.attempted,
        "failed": len(r.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
