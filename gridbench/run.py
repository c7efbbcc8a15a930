"""Gridded-ETL benchmark: one workload, one seed, one run.

    python3 gridbench/run.py --workload daily_append --seed 1 --seconds 20 --trace 0

Builds the program from source (gridbench/build.py), runs the workload in
one JVM with a local[4] Spark session and a single closed-loop client
(gridbench/src/gridbench/Main.scala), then reduces the run's raw record
(operations, spans, Spark jobs) to metrics. Human-readable lines come
first; the last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics. The full summary
is also written to gridbench/out/. See gridbench/README.md.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing beside the sources

import build  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 165

# The timed operation kind of each workload.
TIMED = {"daily_append": "append", "corpus_ingest": "shard"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = ["setup_s", "op_p50_ms", "bytes_per_item"]

# The per-layer metrics on a traced run's last line (BENCHMARK.json
# per_layer). Layer times are given as shares of the operation's wall
# time, so that every figure listed means something on both listed
# workloads; the absolute times are in the summary file.
PER_LAYER = [
    "qc.pre.share", "qc.pre.jobs", "qc.post.share", "qc.post.jobs",
    "qc.post.input_bytes", "sources.update.share", "sources.update.jobs",
    "sources.update.input_bytes", "sources.update.output_records",
    "sources.update.fs_read_ops", "sources.update.fs_write_ops",
    "sources.write.cells_per_s", "sources.write.shuffle_bytes",
    "sources.write.output_bytes", "sources.write_amplification",
    "sources.files_pinned", "sources.manifest_bytes", "sources.versions",
    "catalog.publish.share", "catalog.publish.jobs",
    "catalog.publish.input_bytes", "etl.parse.jobs", "etl.self_s",
    "spark.jobs_per_op", "spark.tasks_per_op", "spark.cpu_s_per_op",
    "spark.job_s_per_op", "spark.driver_gap_s_per_op",
    "spark.input_bytes_per_op", "spark.shuffle_bytes_per_op",
    "spark.output_bytes_per_op", "spark.output_records_per_op",
    "spark.pinned_bytes_peak", "fs.read_ops_per_op", "fs.write_ops_per_op",
    "trace.overhead_frac",
]


def unit_of(name):
    """Unit of every metric the benchmark reports, from its name."""
    if name.endswith(".samples"):
        return "count"
    if name.endswith(".percentile"):
        return "%"
    for suffix, unit in (("_per_s", "cells/s"), ("_ms", "ms"), ("_s", "s"),
                         ("cpu_s_per_op", "s"), ("job_s_per_op", "s"),
                         ("gap_s_per_op", "s"), ("bytes_per_op", "B"),
                         ("_bytes", "B"), ("bytes_peak", "B"),
                         ("bytes_per_item", "B"), ("bytes_per_cell", "B"),
                         ("share", "ratio"), ("_frac", "ratio"),
                         ("_ratio", "ratio"), ("amplification", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"  # jobs, tasks, records, rows, files, ops, versions


def dur_us(s):
    return s["end_us"] - s["start_us"]


class Run:
    """Indexes one raw record: operations by kind, spans, job attribution."""

    def __init__(self, raw):
        self.raw = raw
        self.spans = raw["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.kids = stats.children(self.spans)
        self.jobs = {j["id"]: j for j in raw["jobs"]}
        owner = stats.attribute_jobs(self.spans, raw["jobs"])
        self.jobs_of_span = {s["id"]: [] for s in self.spans}
        for jid, sid in owner.items():
            if sid >= 0:
                self.jobs_of_span[sid].append(self.jobs[jid])
        self.ops = [s for s in self.spans if s["parent"] < 0]
        self.peak = {int(k): v for k, v in raw.get("pinned_peak", {}).items()}

    def ops_of(self, kinds, traced=None):
        return [o for o in self.ops if o["name"] in kinds and o["ok"]
                and (traced is None or o["traced"] == traced)]

    def subtree_jobs(self, span):
        return [j for i in stats.subtree_ids(span["id"], self.kids)
                for j in self.jobs_of_span[i]]

    def named_in(self, op, name):
        return [self.by_id[i] for i in stats.subtree_ids(op["id"], self.kids)
                if self.by_id[i]["name"] == name]

    def counters(self, span):
        """Exact counts and measured totals under one span."""
        jobs = self.subtree_jobs(span)
        return {
            "wall_s": dur_us(span) / 1e6,
            "jobs": len(jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
            "input_bytes": sum(j["input_bytes"] for j in jobs),
            "shuffle_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
            "output_bytes": sum(j["output_bytes"] for j in jobs),
            "output_records": sum(j["output_records"] for j in jobs),
            "job_s": stats.covered(span["start_us"], span["end_us"],
                                   [stats.job_interval_us(j) for j in jobs]) / 1e6,
            "driver_gap_s": stats.driver_gap_us(span, jobs) / 1e6,
            "fs_read_ops": span["fs_read_ops"],
            "fs_write_ops": span["fs_write_ops"],
            "process_cpu_s": span["process_cpu_ns"] / 1e9,
            "client_cpu_s": span["client_cpu_ns"] / 1e9,
            "pinned_bytes_peak": max([self.peak.get(i, 0) for i in
                                      stats.subtree_ids(span["id"], self.kids)]),
        }

    def layer(self, name, kinds, field):
        """Median over the traced operations of `kinds` of the per-op sum
        of `field` over the spans called `name`; 0 when none ran. The
        field `share` is the spans' wall time over the operation's."""
        per_op = []
        for op in self.ops_of(kinds, traced=True):
            spans = self.named_in(op, name)
            if spans:
                if field == "share":
                    per_op.append(sum(map(dur_us, spans)) / dur_us(op))
                else:
                    per_op.append(sum(self.counters(s)[field] for s in spans))
        return stats.median(per_op) if per_op else 0

    def self_by_layer(self, kinds):
        """Median over traced operations of each layer's self time (s);
        the layer is the first component of a span name, and `op` is
        the time inside an operation outside every layer span."""
        per_layer = {}
        ops = self.ops_of(kinds, traced=True)
        for op in ops:
            sums = {}
            for i in stats.subtree_ids(op["id"], self.kids):
                s = self.by_id[i]
                layer = "op" if s["parent"] < 0 else s["name"].split(".")[0]
                sums[layer] = sums.get(layer, 0) + stats.self_time_us(s, self.kids)
            for k, v in sums.items():
                per_layer.setdefault(k, []).append(v / 1e6)
        return {k: stats.median(v) for k, v in per_layer.items()}

    def op_ms(self, kind, traced=None):
        """Median latency in ms of the operations of `kind`; None when
        there is none."""
        xs = [dur_us(o) / 1e3 for o in self.ops_of([kind], traced)]
        return stats.median(xs) if xs else None


def end_to_end(run, workload):
    facts = run.raw["facts"]
    setups = [dur_us(o) / 1e6 for o in run.ops_of(["setup"])]
    return {
        "setup_s": stats.median(setups),
        "op_p50_ms": run.op_ms(TIMED[workload]),
        "bytes_per_item": facts["pinned_bytes"] / facts["live_items"],
    }


def detail(run, workload):
    """The workload's own metric names (README), with sample counts and
    the time of every timed position."""
    facts = run.raw["facts"]
    kind = TIMED[workload]
    out = {"ops_failed_frac": run.raw["failed"] / max(1, run.raw["attempted"])}
    setups = [dur_us(o) / 1e6 for o in run.ops_of(["setup"])]
    out["setup_s"] = stats.median(setups)
    if workload == "daily_append":
        out["initial_cells_per_s"] = facts["initial_cells"] / out["setup_s"]
        out["bytes_per_cell"] = facts["pinned_bytes"] / facts["live_items"]
    ops = run.ops_of([kind])
    xs = [dur_us(o) / 1e3 for o in ops]
    name = {"append": "append_p50_s", "shard": "shard_ingest_p50_s"}[kind]
    out[name] = stats.median(xs) / 1e3
    out[f"{kind}.samples"] = len(xs)
    for i, x in enumerate(xs):
        out[f"{kind}.{i + 1}_s"] = x / 1e3
    for i, o in enumerate(run.ops_of(["warmup"])):
        out[f"warmup.{i + 1}_s"] = dur_us(o) / 1e6
    tail = stats.tail_percentile(xs)
    if tail:
        out["op_tail_ms"], out["op_tail_ms.percentile"] = tail[1], tail[0]
    return out


def per_layer(run, workload):
    """Every per-layer figure of a traced run: the absolute times and
    counts named after each layer's public call (README), their shares
    of the operation's wall time, and whole-operation counters."""
    kind = TIMED[workload]
    timed = [kind]
    facts = run.raw["facts"]
    L = run.layer
    m = {}
    for name in ("qc.pre", "qc.post", "sources.update", "catalog.publish"):
        m[name + "_s"] = L(name, timed, "wall_s")
        m[name + ".share"] = L(name, timed, "share")
        m[name + ".jobs"] = L(name, timed, "jobs")
        m[name + ".input_bytes"] = L(name, timed, "input_bytes")
    m["qc.post.cpu_s"] = L("qc.post", timed, "cpu_s")
    for f in ("driver_gap_s", "output_records", "fs_read_ops", "fs_write_ops"):
        m["sources.update." + f] = L("sources.update", timed, f)
    # the initial bulk write runs inside each traced set-up's parse
    m["sources.write_s"] = L("sources.write", ["setup"], "wall_s")
    m["sources.write.cells_per_s"] = (facts["initial_cells"] / m["sources.write_s"]
                                      if m["sources.write_s"] else 0)
    for f in ("cpu_s", "shuffle_bytes", "output_bytes"):
        m["sources.write." + f] = L("sources.write", ["setup"], f)
    amp = []
    for op in run.ops_of(timed, traced=True):
        spans = run.named_in(op, "sources.update")
        if spans:
            amp.append(sum(run.counters(s)["output_records"] for s in spans)
                       / op["attrs"]["update_rows"])
    m["sources.write_amplification"] = stats.median(amp) if amp else 0
    for f in ("files_pinned", "manifest_bytes", "versions"):
        m["sources." + f] = facts.get(f, 0)
    m["etl.parse.jobs"] = L("etl.parse", timed, "jobs")
    m["etl.parse.driver_gap_s"] = L("etl.parse", timed, "driver_gap_s")
    name = "etl.corpus.ingest_shard"
    m[name + "_s"] = L(name, timed, "wall_s")
    for f in ("jobs", "cpu_s", "driver_gap_s", "pinned_bytes_peak"):
        m[name + "." + f] = L(name, timed, f)
    # whole operations, traced or not: counts that repeat exactly
    per_op = [run.counters(o) for o in run.ops_of(timed)]
    for f in ("jobs", "tasks", "cpu_s", "job_s", "driver_gap_s", "input_bytes",
              "shuffle_bytes", "output_bytes", "output_records"):
        m[f"spark.{f}_per_op"] = stats.median([c[f] for c in per_op])
    # JVM and client-thread CPU time: unlike wall time, not inflated by
    # hypervisor steal
    for f, key in (("fs_read_ops", "fs.read_ops_per_op"),
                   ("fs_write_ops", "fs.write_ops_per_op"),
                   ("process_cpu_s", "jvm.cpu_s_per_op"),
                   ("client_cpu_s", "jvm.client_cpu_s_per_op")):
        m[key] = stats.median([c[f] for c in per_op])
    m["spark.pinned_bytes_peak"] = stats.median([c["pinned_bytes_peak"] for c in per_op])
    for layer, v in run.self_by_layer(timed).items():
        m[f"{layer}.self_s"] = v
    traced, plain = run.op_ms(kind, True), run.op_ms(kind, False)
    m["trace.overhead_frac"] = traced / plain - 1 if traced and plain else 0
    return m


def java_cmd(cp, args, work, raw_path):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # C1 only: C2 keeps recompiling for longer than a run lasts, which
    # made latencies drift within a run; C1 settles during the set-ups.
    # The code cache is the size build.sbt gives the program: with the
    # default one, the sweeper flushed compiled code and the fourth timed
    # append of every run took 40% longer. No perf-data file outside the
    # checkout.
    return (["java"] + opens + [
        "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=768m",
        "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "gridbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", raw_path])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(TIMED))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"gridbench: {e}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    os.makedirs(work)
    raw_path = os.path.join(out_dir, tag + ".raw.json")
    log_path = os.path.join(out_dir, tag + ".log")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    try:
        with open(log_path, "w") as log:
            r = subprocess.run(java_cmd(cp, args, work, raw_path), stdout=log,
                               stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"gridbench: run exceeded {JVM_TIMEOUT_S}s; log in {log_path}",
              file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(raw_path):
        print(f"gridbench: JVM exited {r.returncode} without a record; "
              f"log in {log_path}", file=sys.stderr)
        return 3

    with open(raw_path) as fh:
        raw = json.load(fh)
    run = Run(raw)
    correct = raw["failed"] == 0 and raw["error"] is None and r.returncode == 0
    summary = {"workload": args.workload, "seed": args.seed,
               "trace": args.trace, "correct": correct,
               "attempted": raw["attempted"], "failed": raw["failed"],
               "failures": raw["failures"], "noise": raw["noise"],
               "wall_s": raw["wall_us"] / 1e6, "facts": raw["facts"]}
    metrics = {}
    if correct:
        summary["detail"] = detail(run, args.workload)
        if args.trace:
            layers = per_layer(run, args.workload)
            summary["per_layer"] = layers
            metrics = {k: {"value": layers.get(k, 0), "unit": unit_of(k)}
                       for k in PER_LAYER}
        else:
            e2e = end_to_end(run, args.workload)
            summary["end_to_end"] = e2e
            metrics = {k: {"value": e2e[k], "unit": unit_of(k)} for k in END_TO_END}
    with open(os.path.join(out_dir, tag + ".summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)

    for f in raw["failures"]:
        print(f"FAILED {f}")
    if raw["error"]:
        print(f"ERROR {raw['error']}")
    shown = {**summary.get("detail", {}), **summary.get("per_layer", {})}
    for k, v in sorted(shown.items()):
        if v or k in PER_LAYER or k == "ops_failed_frac":
            print(f"{args.workload} {k} = {v:.6g} {unit_of(k)}")
    n = raw["noise"]
    print(f"{args.workload} host steal_jiffies = {n['steal_jiffies']}, "
          f"calibration_ms = {n['calibration_ms_start']:.1f} -> "
          f"{n['calibration_ms_end']:.1f}, wall = {summary['wall_s']:.1f} s")
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
