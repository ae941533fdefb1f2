"""Flagship word-count tests.

1. Golden test: Spark result must equal a pure-Python reimplementation
   of the reference's tokenize→clean→count semantics
   (map_reduce.cpp:159-171), per SURVEY.md §5 item 2.
2. Oracle-differential test (driver-style DuckDB comparison).
3. Property tests: passes multiplier (the reference's own S3 invariant,
   map_reduce.cpp:36,130) and repartition invariance.
"""

from __future__ import annotations

import random
import re
import string
from collections import Counter

import duckdb
import pyspark.sql.functions as F
import pytest

from map_reduce_multi_threaded_spark.operators import wordcount
from map_reduce_multi_threaded_spark.sources.text import tokens_from_text
from tests.oracle_utils import compare


#: C-locale tolower = ASCII-only (map_reduce.cpp:167).  Python's
#: str.lower() is FULL Unicode (final sigma, İ→i+U+0307) and silently
#: diverges from the engine's ascii_lower on non-ASCII tokens — the
#: round-11 adversarial-text catch; same for re \s, which is
#: Unicode-aware without re.ASCII while C >> splits on ASCII space.
_C_TOLOWER = str.maketrans(string.ascii_uppercase, string.ascii_lowercase)


def python_reference_counts(texts: list[str], passes: int = 1) -> Counter:
    """map_reduce.cpp:159-171 semantics: whitespace split (>>), erase
    ispunct chars, drop empties, C-locale tolower (ASCII-only), count;
    ×passes (the LOOP_OVER_DIRECTORY replay)."""
    counts: Counter = Counter()
    punct = set(string.punctuation)
    for text in texts:
        for tok in re.split(r"\s+", text, flags=re.ASCII):
            w = "".join(ch for ch in tok if ch not in punct).translate(_C_TOLOWER)
            if w:
                counts[w] += 1
    for k in counts:
        counts[k] *= passes
    return counts


def _texts(sf_dir: str) -> list[str]:
    return [
        r[0]
        for r in duckdb.sql(f"SELECT text FROM '{sf_dir}/documents.parquet'").fetchall()
    ]


def test_golden_vs_python_reference(spark, sf_dir):
    expected = python_reference_counts(_texts(sf_dir))
    got = {r["word"]: r["cnt"] for r in wordcount.word_counts(spark, sf_dir).collect()}
    assert got == dict(expected)


def test_sorted_output_contract(spark, sf_dir):
    rows = wordcount.word_counts_sorted(spark, sf_dir).collect()
    words = [r["word"] for r in rows]
    assert words == sorted(words)
    assert len(words) > 0


def test_passes_multiplier_invariant(spark, sf_dir):
    """count over N passes == N × single pass (reference S3)."""
    one = {r["word"]: r["cnt"] for r in wordcount.word_counts(spark, sf_dir).collect()}
    eight = {
        r["word"]: r["cnt"]
        for r in wordcount.word_counts(spark, sf_dir, passes=8).collect()
    }
    assert eight == {w: c * 8 for w, c in one.items()}


def test_repartition_invariance(spark, sf_dir):
    base = wordcount.words(spark, sf_dir)
    a = {
        r["word"]: r["cnt"]
        for r in base.groupBy("word").agg(F.count("*").alias("cnt")).collect()
    }
    b = {
        r["word"]: r["cnt"]
        for r in base.repartition(7)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert a == b


def test_text_dir_source_matches_parquet_path(spark, sf_dir, tmp_path):
    """Reference input fidelity: counting a DIRECTORY OF RAW TEXT
    FILES (the reference's ./RawText/ mode) gives the same counts as
    the parquet documents path."""
    texts = _texts(sf_dir)
    src = tmp_path / "RawText"
    src.mkdir()
    for i, t in enumerate(texts):
        (src / f"doc_{i:04d}.txt").write_text(t + "\n")
    from_files = {
        r["word"]: r["cnt"]
        for r in wordcount.word_counts_from_text_dir(spark, str(src)).collect()
    }
    from_parquet = {
        r["word"]: r["cnt"] for r in wordcount.word_counts(spark, sf_dir).collect()
    }
    assert from_files == from_parquet


def test_oracle_wordcount(spark, sf_oracle_dir):
    for spec in wordcount.SPECS:
        compare(spec.fn(spark, sf_oracle_dir), spec.oracle, sf_oracle_dir)


def _engine_counts(spark, texts: list[str]) -> dict:
    """The engine's own tokenize → count-raw → normalize path over
    in-memory texts."""
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    toks = df.select(F.explode(tokens_from_text(F.col("text"))).alias("tok"))
    rows = wordcount._normalized_counts(toks).collect()
    assert all(r["word"] != "" and r["cnt"] is not None for r in rows), rows
    return {r["word"]: r["cnt"] for r in rows}


def test_tokenize_fuzz_vs_python_reference(spark):
    """Seeded fuzz over adversarial ASCII inputs (punct runs, mixed
    whitespace, empty-after-strip tokens) — the engine's counting path
    must match the C-semantics reimplementation token for token.

    Restricted to ASCII on purpose: the reference's ispunct/>> are
    ASCII-only, and Java's \\s (no UNICODE_CHARACTER_CLASS) is too,
    while Python's re \\s is unicode-aware — the engines only agree on
    the reference's actual input domain."""
    rng = random.Random(42)
    alphabet = string.ascii_letters + string.digits + string.punctuation + " \t\n\r\x0b\x0c"
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80)))
        for _ in range(300)
    ] + ["", "   ", "---", "a--b", "don't stop", "\t\n", "!!!", "a" * 100]
    assert _engine_counts(spark, texts) == dict(python_reference_counts(texts))


def test_degenerate_corpora_yield_no_empty_word(spark, tmp_path):
    """Corpora whose every token normalizes to "" (punctuation only),
    that hold no token at all (whitespace only) or are empty files
    must count nothing — no "" word, no null count — on both inputs."""
    rng = random.Random(7)
    punct = [
        " ".join("".join(rng.choice(string.punctuation) for _ in range(rng.randint(1, 6)))
                 for _ in range(rng.randint(1, 20)))
        for _ in range(50)
    ]
    blank = ["", " ", "\t\n", "  \r\n\x0b\x0c  "]
    for texts in (punct, blank, punct + blank):
        assert _engine_counts(spark, texts) == {}

    for name, texts in (("punct", punct), ("blank", blank), ("empty", [""] * 3)):
        src = tmp_path / name
        src.mkdir()
        for i, t in enumerate(texts):
            (src / f"doc_{i:03d}.txt").write_text(t)
        for passes in (1, 8):
            assert wordcount.word_counts_from_text_dir(
                spark, str(src), passes=passes
            ).collect() == []


def test_passes_below_one_rejected(spark, sf_dir, tmp_path):
    """passes < 1 is a contract violation, not a silent single pass;
    the CLI rejects it, and --processes < 1, at argument parsing."""
    from map_reduce_multi_threaded_spark.__main__ import main

    for n in (0, -3):
        with pytest.raises(ValueError, match="passes must be >= 1"):
            wordcount.words(spark, sf_dir, passes=n)
        with pytest.raises(ValueError, match="passes must be >= 1"):
            wordcount.word_counts(spark, sf_dir, passes=n)
        with pytest.raises(ValueError, match="passes must be >= 1"):
            wordcount.word_counts_from_text_dir(spark, str(tmp_path), passes=n)
        for flag in ("--passes", "--processes"):
            with pytest.raises(SystemExit):
                main([str(tmp_path), "--out", str(tmp_path / "out"), flag, str(n)])


def test_plan_shape(spark, sf_dir, tmp_path):
    """normalize_token (regexp_replace + translate) must run on the
    raw-token aggregate's output, once per distinct surface form — never
    on the token stream below it.  Guards against Catalyst pushing the
    drop-empty test through both aggregates onto explode(split(...)).
    The initial (pre-AQE) executed plan holds the whole tree once."""
    src = tmp_path / "RawText"
    src.mkdir()
    (src / "doc.txt").write_text("Alpha beta, ALPHA! -- gamma\n")
    for passes in (1, 8):
        for df in (
            wordcount.word_counts(spark, sf_dir, passes=passes),
            wordcount.word_counts_from_text_dir(spark, str(src), passes=passes),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning(tok" in plan, plan
            # the subtree below the lowest raw-token (partial) aggregate
            lines = plan.splitlines()
            lowest = max(i for i, ln in enumerate(lines) if "HashAggregate(keys=[tok" in ln)
            below = "\n".join(lines[lowest + 1:])
            assert "Generate explode(split(" in below, plan
            assert "regexp_replace" not in below and "translate" not in below, plan


def test_cli_end_to_end(spark, sf_dir, tmp_path, capsys):
    """python -m map_reduce_multi_threaded_spark <dir> --out <dir>:
    the full mpiexec-equivalent contract — raw text dir in, exactly
    --processes text files of sorted '<word, count> ' lines out,
    byte-identical in aggregate to the golden Python reimplementation
    (incl. the reference's trailing space, map_reduce.cpp:448)."""
    import os

    from map_reduce_multi_threaded_spark.__main__ import main

    src = tmp_path / "RawText"
    os.makedirs(src)
    for i, text in enumerate(_texts(sf_dir)[:50]):
        (src / f"doc_{i:03d}.txt").write_text(text)
    out = tmp_path / "counts"
    rc = main([str(src), "--out", str(out), "--passes", "8", "--processes", "2"])
    assert rc == 0

    part_files = sorted(p for p in os.listdir(out) if p.startswith("part-"))
    assert len(part_files) == 2
    lines = []
    for p in part_files:
        content = (out / p).read_text()
        plines = content.splitlines()
        words = [ln.split(", ")[0][1:] for ln in plines]
        assert words == sorted(words), f"{p} not sorted by word"
        lines.extend(plines)

    expected = python_reference_counts([ (src / f).read_text() for f in os.listdir(src) ], passes=8)
    expected_lines = sorted(f"<{w}, {c}> " for w, c in expected.items())
    assert sorted(lines) == expected_lines
    # the printed line count is observed during the write itself
    assert f"wrote {len(lines)} '<word, count> ' lines across 2 files" in capsys.readouterr().out


def test_text_dir_reads_gzip_transparently(spark, tmp_path):
    """S1 generalization: compressed members of a text directory decode
    via Hadoop's extension-dispatched codec factory, mixing freely with
    plain files — same counts either way.  (Scale caveat documented in
    sources/text.py: gzip is not splittable; one .gz = one task.)"""
    import gzip

    from map_reduce_multi_threaded_spark.operators import wordcount

    (tmp_path / "plain.txt").write_text("alpha beta alpha\n")
    with gzip.open(tmp_path / "zipped.txt.gz", "wt") as f:
        f.write("beta gamma\nALPHA!\n")
    counts = {
        r["word"]: r["cnt"]
        for r in wordcount.word_counts_from_text_dir(
            spark, str(tmp_path)
        ).collect()
    }
    assert counts == {"alpha": 3, "beta": 2, "gamma": 1}


def test_golden_vs_python_reference_adversarial_text(spark, tmp_path):
    """The golden contract must hold beyond ASCII: mixed scripts,
    Unicode punctuation (stripped by NEITHER engine — \\p{Punct} and
    ispunct are ASCII classes), >=40-char tokens (the reference's
    char[40] overflow input, treated as ordinary data here), NBSP and
    ideographic-space glue (NOT \\s in Java/RE2/C), and case folding
    pinned to C-locale tolower (İ/ΟΔΟΣ keep their non-ASCII casing)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [
        "The QUICK\u00a0brown İstanbul ΟΔΟΣ straße «quoted» DON'T",
        "x" * 45 + " \t 数据\u3000数据 ¡HOLA! a-b_c 3.14 " + "x" * 45,
        "",
        " \t ",
        "ДАННЫЕ данные ẞHARP 𝕏ray …ellipsis… halb–geviert",
    ]
    n = len(texts)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(["src0"] * n, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        str(tmp_path / "documents.parquet"),
    )
    expected = python_reference_counts(texts)
    got = {r["word"]: r["cnt"]
           for r in wordcount.word_counts(spark, str(tmp_path)).collect()}
    assert got == dict(expected)
    # spot-pin the class-defining facts so a future "fix" to full
    # Unicode folding fails loudly rather than silently shifting counts
    assert "«quoted»" in got            # Unicode punct not stripped
    assert "οδος" not in got and "ΟΔΟΣ" in got   # no Unicode casefold
    assert "quick\u00a0brown" in got    # NBSP glues, ASCII \s does not
    assert "x" * 45 in got              # >=40-char token survives
