"""Re-record ``eventlog_small/``: a tiny word count (3 lines of 4
tokens, passes=2, reference-format sink) and one ``range().count()``,
each tagged with a job group, logged by Spark with compression off.

    python3 perfbench/testdata/record_small_log.py   # from the repo root

The recording is scrubbed so it does not depend on where it ran: the
environment event is dropped, job and stage properties keep only the
keys the parser reads, temp paths become ``/data`` and the host name
becomes ``host``.
"""

import json
import os
import shutil
import socket
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
KEEP_PROPERTIES = ("spark.jobGroup.id", "spark.job.description", "spark.sql.execution.id")


def scrub(value, tmp: str, host: str):
    if isinstance(value, dict):
        return {k: scrub(v, tmp, host) for k, v in value.items()
                if k != "Properties"} | (
            {"Properties": {k: v for k, v in value["Properties"].items() if k in KEEP_PROPERTIES}}
            if isinstance(value.get("Properties"), dict) else {})
    if isinstance(value, list):
        return [scrub(v, tmp, host) for v in value]
    if isinstance(value, str):
        return "host" if value == host else value.replace(tmp, "/data")
    return value


def main() -> None:
    from map_reduce_multi_threaded_spark.operators.wordcount import word_counts_from_text_dir
    from map_reduce_multi_threaded_spark.session import get_spark
    from map_reduce_multi_threaded_spark.sources.sinks import write_reference_format
    from perfbench import eventlog

    tmp = tempfile.mkdtemp(prefix="pb_small_")
    try:
        text = os.path.join(tmp, "text")
        os.makedirs(text)
        with open(os.path.join(text, "a.txt"), "w") as f:
            f.write("The cat, the DOG.\nA cat sat down\nthe end -- now\n")
        logs = os.path.join(tmp, "log")
        os.makedirs(logs)
        spark = get_spark(app_name="small", master="local[2]", shuffle_partitions=2, extra_confs={
            **eventlog.confs(logs), "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        })
        sc = spark.sparkContext
        sc.setJobGroup("t/wordcount/exec", "t/wordcount/exec")
        df = word_counts_from_text_dir(spark, text, passes=2, sort=False)
        write_reference_format(df, os.path.join(tmp, "out"), num_files=2)
        sc.setJobGroup("t/count/exec", "t/count/exec")
        spark.range(10).count()
        spark.stop()

        out = os.path.join(HERE, "eventlog_small")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        with open(os.path.join(out, "events"), "w") as dst:
            for event in eventlog.read_events(eventlog.log_file(logs)):
                if event["Event"] != "SparkListenerEnvironmentUpdate":
                    dst.write(json.dumps(scrub(event, tmp, socket.gethostname())) + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
