"""The benchmark's workloads: seeded inputs, one pass, output checks.

A pass runs the workload's steps one after another in a fixed order
(one closed-loop client).  Its time runs from the first input read to
the last result done; checks run after it, outside the timed interval.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from functools import cached_property

#: wordcount_corpus size: 1.6M tokens ≈ 13 MB over 128 files
CORPUS_TOKENS = 1_600_000
CORPUS_VOCAB = 20_000
WC_PASSES = 8
WC_FILES = 2
#: gen_altfixture.py --scale for query_mix (32k lineitem rows, 800 documents)
FIXTURE_SCALE = 1

LINE = re.compile(r"^<([a-z]+), ([0-9]+)> $")


@dataclass
class Step:
    """One query (or pipeline) run inside a pass."""

    name: str
    build_s: float = 0.0
    exec_s: float = 0.0
    error: str = ""
    output: object = None
    batches: list[dict] = field(default_factory=list)  # streaming progress

    @property
    def seconds(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Pass:
    label: str
    seconds: float
    steps: list[Step]


class Workload:
    name = ""
    why = ""
    #: unmeasured passes before measuring.  The first is cold (codegen,
    #: Python workers); after it, pass times still fall in steps as the
    #: JIT compiles Spark's planner and operators, at a moment that
    #: varies from run to run, so the warm-up runs past the last step.
    warmup_passes: int

    def __init__(self, root: str, work: str, seed: int) -> None:
        self.root = root
        self.work = work
        self.seed = seed
        self.inputs = ""

    # -- inputs ----------------------------------------------------------
    def cache_key(self) -> str:
        raise NotImplementedError

    def generate(self, out: str) -> None:
        raise NotImplementedError

    def prepare(self) -> float:
        """Generate the inputs for this seed unless cached; return the
        seconds spent (kept out of every reported time)."""
        t0 = time.perf_counter()
        self.inputs = os.path.join(self.work, "inputs", self.cache_key())
        if not os.path.exists(os.path.join(self.inputs, "_DONE")):
            tmp = self.inputs + ".partial"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            self.generate(tmp)
            with open(os.path.join(tmp, "_DONE"), "w"):
                pass
            shutil.rmtree(self.inputs, ignore_errors=True)
            os.rename(tmp, self.inputs)
        return time.perf_counter() - t0

    # -- one pass --------------------------------------------------------
    def run_pass(self, spark, specs, tracer, label: str) -> Pass:
        raise NotImplementedError

    def check(self, p: Pass, specs) -> list[str]:
        """Failure messages for the pass's steps, one per failed step."""
        raise NotImplementedError

    def tag(self, spark, tracer, step: str, phase: str) -> None:
        if tracer.enabled:
            tag = f"{self.name}/{step}/{phase}"
            spark.sparkContext.setJobGroup(tag, tag)


class WordcountCorpus(Workload):
    name = "wordcount_corpus"
    why = ("the paper's workload: one large job over 128 text files read 8 times; "
           "text scan, tokenize, partial aggregate, shuffle and the reference-format "
           "sink, with near-zero plan build and no Python worker")
    warmup_passes = 7

    def cache_key(self) -> str:
        return f"{self.name}-s{self.seed}-t{CORPUS_TOKENS}-v{CORPUS_VOCAB}"

    def generate(self, out: str) -> None:
        subprocess.run(
            [sys.executable, "-m", "perfbench.corpus", "--seed", str(self.seed),
             "--tokens", str(CORPUS_TOKENS), "--vocab", str(CORPUS_VOCAB), "--out", out],
            cwd=self.root, check=True,
        )

    @cached_property
    def expected(self) -> dict:
        with open(os.path.join(self.inputs, "expected.json")) as f:
            return json.load(f)

    def words(self) -> int:
        """Words one read of the corpus yields (empty tokens excluded)."""
        return sum(self.expected["counts"].values())

    def run_pass(self, spark, specs, tracer, label: str) -> Pass:
        from map_reduce_multi_threaded_spark.operators.wordcount import word_counts_from_text_dir
        from map_reduce_multi_threaded_spark.sources.sinks import write_reference_format

        out = os.path.join(self.work, "wc_out")
        step = Step("wordcount")
        t0 = time.perf_counter()
        try:
            with tracer.span("query", query=step.name):
                self.tag(spark, tracer, step.name, "build")
                with tracer.span("operators.wordcount.word_counts_from_text_dir"):
                    df = word_counts_from_text_dir(spark, os.path.join(self.inputs, "corpus"),
                                                   passes=WC_PASSES, sort=False)
                t1 = time.perf_counter()
                self.tag(spark, tracer, step.name, "exec")
                with tracer.span("sources.sinks.write_reference_format"):
                    write_reference_format(df, out, num_files=WC_FILES)
            step.build_s, step.exec_s = t1 - t0, time.perf_counter() - t1
            step.output = out
        except Exception as e:  # a failed step is counted, never retried
            step.error = f"{type(e).__name__}: {e}"
        return Pass(label, time.perf_counter() - t0, [step])

    def check(self, p: Pass, specs) -> list[str]:
        step = p.steps[0]
        if step.error:
            return [f"wordcount: {step.error}"]
        want = {w: n * WC_PASSES for w, n in self.expected["counts"].items()}
        parts = sorted(f for f in os.listdir(step.output) if f.startswith("part-"))
        if len(parts) != WC_FILES:
            return [f"wordcount: {len(parts)} output files, want {WC_FILES}"]
        got: dict[str, int] = {}
        for part in parts:
            prev = None
            with open(os.path.join(step.output, part)) as f:
                for line in f:
                    m = LINE.match(line.rstrip("\n"))
                    if not m:
                        return [f"wordcount: bad line {line!r} in {part}"]
                    word = m.group(1)
                    if prev is not None and word <= prev:
                        return [f"wordcount: {part} not sorted at {prev!r}, {word!r}"]
                    if word in got:
                        return [f"wordcount: {word!r} in two output files"]
                    got[word] = int(m.group(2))
                    prev = word
        wrong = sorted(w for w in set(got) | set(want) if got.get(w) != want.get(w))
        if wrong:
            return [f"wordcount: {len(wrong)} words with wrong counts, e.g. "
                    f"{[(w, got.get(w), want.get(w)) for w in wrong[:5]]} (word, got, want)"]
        return []


class QueryMix(Workload):
    name = "query_mix"
    why = ("registered queries from the relational, dedup/text and streaming families: "
           "plan-build jobs, one-row-group scans with decimal money math, Python/Arrow "
           "workers, candidate-pair shuffles and micro-batches")
    warmup_passes = 5
    queries = (
        "q1_pricing_summary",
        "dedup_prefix_filter",
        "text_fingerprint",
        "stream_wordcount",
    )

    def __init__(self, root: str, work: str, seed: int) -> None:
        super().__init__(root, work, seed)
        self.verified: dict[str, list] = {}  # query -> rows that matched the oracle

    def cache_key(self) -> str:
        return f"{self.name}-s{self.seed}-x{FIXTURE_SCALE}"

    def generate(self, out: str) -> None:
        subprocess.run(
            [sys.executable, "scripts/gen_altfixture.py", "--out", out,
             "--seed", str(self.seed), "--scale", str(FIXTURE_SCALE)],
            cwd=self.root, check=True, stdout=subprocess.DEVNULL,
        )

    def run_pass(self, spark, specs, tracer, label: str) -> Pass:
        from map_reduce_multi_threaded_spark.streaming import windows

        steps = []
        t0 = time.perf_counter()
        for name in self.queries:
            step = Step(name)
            seen = {k: id(v) for k, v in windows.RECENT_PROGRESS.items()}
            a = time.perf_counter()
            try:
                with tracer.span("query", query=name):
                    self.tag(spark, tracer, name, "build")
                    with tracer.span("spec.fn"):
                        df = specs[name].fn(spark, self.inputs)
                    b = time.perf_counter()
                    self.tag(spark, tracer, name, "exec")
                    with tracer.span("action.collect"):
                        rows = df.collect()
                step.build_s, step.exec_s = b - a, time.perf_counter() - b
                step.output = (df.schema, df.columns, rows)
            except Exception as e:  # a failed query is counted, never retried
                step.error = f"{type(e).__name__}: {e}"
            step.batches = [p for k, v in windows.RECENT_PROGRESS.items() if seen.get(k) != id(v) for p in v]
            steps.append(step)
        return Pass(label, time.perf_counter() - t0, steps)

    def check(self, p: Pass, specs) -> list[str]:
        """Each query's rows against its DuckDB oracle (``oracle_utils.
        compare``).  A result identical to one that already matched the
        oracle in this run passes without running DuckDB again."""
        if os.path.join(self.root, "tests") not in sys.path:
            sys.path.insert(0, os.path.join(self.root, "tests"))
        from oracle_utils import compare, rows_multiset

        failures = []
        for step in p.steps:
            if step.error:
                failures.append(f"{step.name}: {step.error.splitlines()[0][:300]}")
                continue
            schema, columns, rows = step.output
            got = rows_multiset([c.lower() for c in columns], [tuple(r) for r in rows])
            if self.verified.get(step.name) == got:
                continue
            try:
                compare(_Collected(schema, columns, rows), specs[step.name].oracle, self.inputs)
                self.verified[step.name] = got
            except Exception as e:  # mismatch or oracle error: counted as failed
                failures.append(f"{step.name}: {type(e).__name__}: {str(e)[:300]}")
        return failures


class _Collected:
    """The part of a DataFrame ``oracle_utils.compare`` reads, served
    from rows already collected — so the check does not run the query
    again."""

    def __init__(self, schema, columns, rows) -> None:
        self.schema, self.columns, self._rows = schema, columns, rows

    def collect(self):
        return self._rows


WORKLOADS = {w.name: w for w in (WordcountCorpus, QueryMix)}
