"""CLI entry point — the one-command equivalent of the reference's
``mpiexec -n <P> ./map_reduce`` (makefile:6-7 → map_reduce.cpp:452):
directory of raw text in, sorted ``<word, count> `` text files out.

    python -m map_reduce_multi_threaded_spark ./RawText --out ./counts \
        --passes 8 --processes 2

``--passes`` is the reference's LOOP_OVER_DIRECTORY ×8 workload
multiplier (map_reduce.cpp:36,130); ``--processes`` maps the MPI world
size to the number of output files (one per hash partition, exactly the
reference's one ``Process_<pid>_Output_File.txt`` per rank).
"""

from __future__ import annotations

import argparse
import sys
import time


def _positive_int(value: str) -> int:
    n = int(value)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m map_reduce_multi_threaded_spark",
        description="Distributed word count: raw-text dir in, sorted "
        "'<word, count> ' text files out (the reference engine's full "
        "observable contract).",
    )
    parser.add_argument("text_dir", help="directory of raw text files (the reference's ./RawText)")
    parser.add_argument("--out", required=True, help="output directory for the counted text files")
    parser.add_argument(
        "--passes", type=_positive_int, default=1,
        help="replay the corpus N times (reference LOOP_OVER_DIRECTORY=8; counts scale xN)",
    )
    parser.add_argument(
        "--processes", type=_positive_int, default=2,
        help="number of output files, one per hash partition (= the reference's MPI world size)",
    )
    args = parser.parse_args(argv)

    from .operators.wordcount import word_counts_from_text_dir
    from .plans.metrics import observe_rows
    from .session import get_spark
    from .sources.sinks import write_reference_format

    t0 = time.time()
    spark = get_spark(app_name="map-reduce-multi-threaded-spark-cli")
    counts = word_counts_from_text_dir(spark, args.text_dir, passes=args.passes, sort=False)
    counts, obs = observe_rows(counts)
    write_reference_format(counts, args.out, num_files=args.processes)
    n_words = obs.get["rows"]
    print(
        f"wrote {n_words} '<word, count> ' lines across {args.processes} "
        f"files to {args.out} in {time.time() - t0:.3f}s "
        f"(passes={args.passes})"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
