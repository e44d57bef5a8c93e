#!/usr/bin/env python3
"""Where a perfbench run's driver spends its CPU, from a JFR recording.

Usage: python3 scripts/jfr_ops.py <recording.jfr> [--spans <trace.spans.jsonl>]

Record one run with the JDK's flight recorder, from the repository root:

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions:stackdepth=2048 \
      -XX:StartFlightRecording=filename=$PWD/run.jfr,settings=profile" \
      python3 perfbench/run.py --workload table_ingest --seed 1 --seconds 10

`stackdepth=2048` matters: the recorder keeps 64 frames by default, and a
Spark driver stack is deeper than that, so the frames that tell the
layers apart would be cut off. `jfr print` also cuts every stack to 5
frames unless it is given `--stack-depth`; this script passes 2048.

It prints three tables:
- the main thread's execution samples by layer: analysis, optimization,
  planning, listing (path resolution, file listing and partition
  inference), parquet write, manifest JSON, job submit, codegen, class
  loading and other. A sample goes to the first layer in that order of
  precedence (codegen, class loading, listing, parquet write, manifest
  JSON, job submit, analysis, optimization, planning) that has a frame on
  its stack;
- the same samples by ingest operation. With `--spans` (the span trace a
  `--trace 1` run writes to `.bench_build/traces/`), a sample belongs to
  the operation whose span covers its timestamp (`jfr print` stamps
  events with the UTC time of day only, so the trace's spans are matched
  by time of day). Without it, the
  operation comes from the graft entry point on the stack (scan, append,
  merge, delete, sql_merge, sql_delete, compact, lookup, changes, read,
  manifest); a read's action, which runs after its entry point returned,
  then counts as `ingest_other`;
- `jdk.ThreadStart` events by thread-name family (the name with every
  number replaced by `#`), most first.

It only reads the recording; `jfr` must be on the PATH.
"""
import argparse
import collections
import datetime
import json
import os
import re
import subprocess

LAYERS = [
    ("codegen", ("org.apache.spark.sql.catalyst.expressions.codegen.",
                 "org.codehaus.janino.", "org.codehaus.commons.compiler.")),
    ("class_loading", ("java.lang.ClassLoader.loadClass",
                       "java.lang.ClassLoader.defineClass",
                       "jdk.internal.loader.")),
    ("listing", ("org.apache.spark.sql.execution.datasources.DataSource.",
                 "org.apache.spark.sql.execution.datasources.InMemoryFileIndex",
                 "org.apache.spark.sql.execution.datasources."
                 "PartitioningAwareFileIndex",
                 "org.apache.spark.sql.execution.datasources.PartitioningUtils",
                 "org.apache.spark.util.HadoopFSUtils",
                 "graft.table.ManifestFileIndex")),
    ("parquet_write", ("org.apache.parquet.hadoop.ParquetWriter",
                       "org.apache.parquet.hadoop.ParquetFileWriter",
                       "org.apache.parquet.hadoop.InternalParquetRecordWriter",
                       "org.apache.spark.sql.execution.datasources."
                       "FileFormatWriter",
                       "graft.table.GraftTable$.writeRowsOnDriver")),
    ("manifest_json", ("org.json4s.", "com.fasterxml.jackson.")),
    ("job_submit", ("org.apache.spark.SparkContext.runJob",
                    "org.apache.spark.scheduler.DAGScheduler.")),
    ("analysis", ("org.apache.spark.sql.catalyst.analysis.",
                  "org.apache.spark.sql.execution.QueryExecution."
                  "assertAnalyzed",
                  "org.apache.spark.sql.execution.QueryExecution.analyzed")),
    ("optimization", ("org.apache.spark.sql.catalyst.optimizer.",
                      "org.apache.spark.sql.execution.QueryExecution."
                      "optimizedPlan")),
    ("planning", ("org.apache.spark.sql.execution.SparkStrategies",
                  "org.apache.spark.sql.catalyst.planning.QueryPlanner",
                  "org.apache.spark.sql.execution.QueryExecution.sparkPlan",
                  "org.apache.spark.sql.execution.QueryExecution."
                  "executedPlan")),
]

DAY_MS = 86_400_000

# ingest operation <- graft entry point on the stack, first match wins
OPS = [
    ("scan", "graftbench.IngestWorkload.scan("),
    ("sql_merge", "GraftMergeCommand"),
    ("sql_delete", "GraftDeleteCommand"),
    ("compact", "graft.table.GraftTable$.compact("),
    ("merge", "graft.table.GraftTable$.merge("),
    ("delete", "graft.table.GraftTable$.delete("),
    ("append", "graft.table.GraftTable$.append("),
    ("lookup", "graft.table.GraftTable$.readWhereKeyIn("),
    ("changes", "graft.table.GraftTable$.changesBetween("),
    ("read", "graft.table.GraftTable$.read("),
    ("manifest", "graft.table.GraftTable$.manifest("),
    ("ingest_other", "graftbench.IngestWorkload"),
]


def events(path: str):
    """(event type, {field: text}, [frames]) per event of the recording."""
    cmd = ["jfr", "print", "--stack-depth", "2048", "--events",
           "jdk.ExecutionSample,jdk.ThreadStart", path]
    env = dict(os.environ, TZ="UTC")
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                          env=env) as p:
        kind, fields, frames, in_stack = None, {}, [], False
        for line in p.stdout:
            s = line.strip()
            if kind is None:
                if s.endswith("{"):
                    kind, fields, frames = s[:-1].strip(), {}, []
            elif in_stack:
                if s == "]":
                    in_stack = False
                elif s and s != "...":
                    frames.append(s)
            elif s == "}":
                yield kind, fields, frames
                kind = None
            elif s.startswith("stackTrace = ["):
                in_stack = True
            elif " = " in s:
                k, v = s.split(" = ", 1)
                fields[k] = v
        if p.wait() != 0:
            raise SystemExit(f"jfr print failed on {path}")


def thread_name(v: str) -> str:
    m = re.match(r'"(.*)" \(javaThreadId', v)
    return m.group(1) if m else v


def ms_of_day(v: str) -> float:
    """`09:05:33.372` (printed in UTC, no date) -> ms since midnight."""
    m = re.match(r"(\d+):(\d+):(\d+)(\.\d+)?", v)
    if not m:
        return float("nan")
    h, mi, sec, frac = m.groups()
    return ((int(h) * 60 + int(mi)) * 60 + int(sec) + float(frac or 0)) * 1000


def first_match(frames, table, default):
    for name, marks in table:
        if any(f.startswith(marks) if isinstance(marks, tuple)
               else marks in f for f in frames):
            return name
    return default


def op_windows(path: str):
    """Sorted (start, end, kind) of a trace's operation spans, in ms since
    midnight UTC: `jfr print` stamps events with the time of day only."""
    out = []
    with open(path) as f:
        for line in f:
            if line.strip():
                s = json.loads(line)
                if s["kind"] == "op":
                    lo = s["start_ms"] % DAY_MS
                    out.append((lo, lo + s["end_ms"] - s["start_ms"],
                                s["name"].split(" ")[0]))
    return sorted(out)


def op_at(windows, t: float) -> str:
    for lo, hi, kind in windows:
        if t < lo - DAY_MS / 2:  # the run crossed midnight
            t += DAY_MS
        if lo <= t <= hi:
            return kind
        if lo > t:
            break
    return "outside_ops"


def table(title: str, counts: collections.Counter) -> None:
    n = sum(counts.values())
    print(f"{title:<22}{'samples':>9}{'share':>8}")
    for k, v in counts.most_common():
        print(f"{k:<22}{v:>9}{v / max(n, 1):>8.1%}")
    print(f"{'total':<22}{n:>9}")
    print()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--spans", help="perfbench span trace of the same run")
    a = ap.parse_args()
    windows = op_windows(a.spans) if a.spans else None
    layers, ops, starts = (collections.Counter() for _ in range(3))
    for kind, fields, frames in events(a.recording):
        if kind == "jdk.ThreadStart":
            name = thread_name(fields.get("thread", "?"))
            starts[re.sub(r"\d+", "#", name)] += 1
        elif kind == "jdk.ExecutionSample" and \
                thread_name(fields.get("sampledThread", "")) == "main":
            layers[first_match(frames, LAYERS,
                               "other")] += 1
            ops[op_at(windows, ms_of_day(fields.get("startTime", "")))
                if windows is not None
                else first_match(frames, OPS, "outside_ops")] += 1
    table("main-thread layer", layers)
    table("ingest op", ops)
    n = sum(starts.values())
    print(f"{'thread family':<60}{'starts':>8}")
    for k, v in starts.most_common():
        print(f"{k[:59]:<60}{v:>8}")
    print(f"{'total':<60}{n:>8}")


if __name__ == "__main__":
    main()
