#!/usr/bin/env python3
"""cdstore_spark benchmark: end-to-end and per-layer figures for two
workloads, with every run's output checked.

    python3 perfbench/run.py --workload audio_batch --seed 1 --seconds 12
    python3 perfbench/run.py --workload all --trace 1  # everything

Run it from the root of a source tree. It generates its inputs from the
seed (cached under .perfbench/), starts Spark at local[nproc] with a
driver heap sized from /proc/meminfo, runs operations for --seconds
seconds (at least a fixed count per workload; audio_batch first makes
an untimed warm-up one), checks every operation's output, and prints one
line per metric followed by a JSON summary as the last line of stdout.
With --trace 0 the summary carries the end_to_end metrics of
BENCHMARK.json, with --trace 1 its per_layer metrics. A per-run record
(and, when traced, the spans) is written under .perfbench/records/.
See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("audio_batch", "doc_hot")


def host_facts() -> dict:
    """Parallelism from the CPUs this process may run on, the driver heap
    from MemTotal (an eighth, at most 4 GiB: the host is shared, and a
    heap the job cannot fill leaves peak RSS to GC timing), and free
    disk."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    cores = len(os.sched_getaffinity(0))
    return {"cores": cores, "low_cores": max(1, cores // 4),
            "mem_total_mb": mem_kb // 1024,
            "driver_heap_mb": min(4096, mem_kb // 1024 // 8),
            "disk_free_gb": shutil.disk_usage(ROOT).free / 2 ** 30}


def prepare_env(host: dict) -> None:
    """The session reads its heap from SPARK_DRIVER_MEM; Python workers
    find the program and these modules through PYTHONPATH; temp files of
    Python and of every JVM (the launcher's too) stay under the work
    directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([old] if old else []))
    os.environ["SPARK_DRIVER_MEM"] = f"{host['driver_heap_mb']}m"
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")


def cpu_ticks() -> list[int]:
    """The host's aggregate /proc/stat cpu counters (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


#: (untimed warm-up operations, timed operations at least) per workload.
#: audio_batch's first job in a fresh JVM is mostly class loading and JIT
#: and takes ~1.7x a later one, and its later ones still speed up, so it
#: times a fixed count of them. doc_hot's first job varies less from run
#: to run than its second (the JIT is part-way through its plans then)
#: and costs ~20 s, so doc_hot times its first job. The traced run
#: always makes one warm-up and one timed operation, so that its traced
#: operation and the overhead base are JIT-warm.
OPS = {"audio_batch": (1, 3), "doc_hot": (0, 1)}


def timed(op, seconds: float, min_ops: int) -> list:
    """Run `op` until the operations' summed wall reaches `seconds` and at
    least `min_ops` ran. An operation that raises is recorded as None and
    ends the loop; nothing is retried."""
    out, spent = [], 0.0
    while len(out) < min_ops or spent < seconds:
        try:
            r = op(len(out))
        except Exception:
            traceback.print_exc()
            out.append(None)
            break
        out.append(r)
        spent += r.wall
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext
    from spans import descendants
    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()      # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 60
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def run_one(workload: str, seed: int, seconds: float, trace: bool,
            host: dict) -> dict:
    import inputs
    import layers
    import microbench
    import workloads as W
    from spans import RssSampler, Tracer

    t = time.time()
    corpus = inputs.ensure(WORK, workload, seed, host["cores"])
    inputs_s = time.time() - t
    rows = corpus.meta()["rows"]
    cores, low = host["cores"], host["low_cores"]
    op = W.audio_op if workload == "audio_batch" else W.doc_op
    rec: dict = {"workload": workload, "seed": seed, "seconds": seconds,
                 "trace": trace, "host": host, "rows": rows,
                 "corpus": corpus.meta(), "inputs_s": inputs_s}
    low_ops: list = []
    ticks = cpu_ticks()
    with RssSampler() as rss:
        spark, session_s, warm_s = W.start_session(cores, WORK, ui=trace)
        n_warm, n_timed = (1, 1) if trace else OPS[workload]
        warmup = timed(lambda i: op(spark, corpus,
                                    Tracer(f"{workload}-warmup-{i}")),
                       0, n_warm)
        ops = []
        if None not in warmup:
            # the traced run needs one untraced operation only, as the
            # base of the tracing overhead
            ops = timed(lambda i: op(spark, corpus,
                                     Tracer(f"{workload}-{i}")),
                        0 if trace else seconds, n_timed)
        if trace and ops and None not in ops:
            tr = Tracer(f"{workload}-traced", spark=spark)
            traced = (layers.traced_audio if workload == "audio_batch"
                      else layers.traced_doc)
            traced_wall, counts, traced_detail = traced(spark, corpus, tr)
            stages = layers.stage_table(spark, tr, cores)
            os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
            tr.dump(os.path.join(WORK, "records",
                                 f"{workload}-s{seed}-spans.json"))
            if workload == "audio_batch":
                # the N -> 4N pair: the same job on a fresh local[low]
                # context in the same, already JIT-warm JVM
                spark.stop()
                spark, *_ = W.start_session(low, WORK)
                low_ops = timed(lambda i: op(spark, corpus, Tracer(
                    f"{workload}-low-{i}")), 0, 1)
        stop_spark(spark)
    # host contention while measuring: the share of CPU time the
    # hypervisor gave to other guests (steal), for reading noisy runs
    ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
    rec["host_steal_frac"] = ticks[7] / max(sum(ticks), 1)

    if not ops or None in ops:
        raise SystemExit(f"{workload}: an operation raised; no result")
    all_ops = warmup + ops + low_ops
    failed = sum(r is None or not r.ok for r in all_ops)
    wall = statistics.median(r.wall for r in ops)
    e2e = {"wall_s": wall, "rows_per_s": rows / wall,
           "setup_s": session_s + warm_s, "peak_rss_mb": rss.peak_total}
    extra = {"failed_frac": failed / len(all_ops),
             "first_wall_s": (warmup + ops)[0].wall}
    if low_ops and low_ops[0] is not None:
        extra["wall_1core_s"] = low_ops[0].wall
        extra["scaling_eff"] = low_ops[0].wall / wall / (cores / low)
    rec.update(setup={"session_s": session_s, "warmup_s": warm_s},
               walls_warmup=[r.wall for r in warmup],
               walls=[r.wall for r in ops],
               walls_low=[r.wall if r else None for r in low_ops],
               details=[r.detail if r else None for r in all_ops],
               stage_walls=[r.stages if r else None for r in all_ops],
               attempted=len(all_ops), failed=failed, e2e=e2e, extra=extra,
               correct=failed == 0)
    if not trace:
        return rec

    kernels = microbench.kernel_metrics(workload, corpus, seed)
    per = dict(stages)
    per.update({f"kernels.{k}": v for k, v in kernels.items()})
    per.update(dict.fromkeys(layers.COUNTS, 0.0))
    per.update(counts)
    per.update({
        "setup.jvm_s": session_s, "setup.warmup_s": warm_s,
        "mem.driver_rss_mb": rss.peak_jvm,
        "mem.workers_rss_mb": rss.peak_workers,
        "trace.overhead_s": traced_wall - wall,
    })
    rec.update(traced_wall=traced_wall, traced_detail=traced_detail,
               per_layer=per)
    return rec


#: units of the figures printed beside the BENCHMARK.json metrics
EXTRA_UNITS = {"failed_frac": "ratio", "first_wall_s": "s",
               "wall_1core_s": "s", "scaling_eff": "ratio"}


def single(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    host = host_facts()
    prepare_env(host)
    rec = run_one(args.workload, args.seed, args.seconds, bool(args.trace),
                  host)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    path = os.path.join(WORK, "records", f"{args.workload}-s{args.seed}-"
                        f"t{args.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, default=str)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    units.update(EXTRA_UNITS)
    lines = [(k, v, units[k]) for k, v in
             list(rec["e2e"].items()) + list(rec["extra"].items())]
    listed, values = spec["end_to_end"], rec["e2e"]
    if args.trace:
        listed, values = spec["per_layer"], rec["per_layer"]
        lines += [(m["name"], values[m["name"]], m["unit"]) for m in listed]
    missing = [m["name"] for m in listed if m["name"] not in values]
    if missing:
        raise SystemExit(f"metrics not computed: {missing}")
    for k, v, unit in lines:
        print(f"{args.workload} {k} = {v:.6g} {unit}")
    recall = [d["recall"] for d in rec["details"] if d and "recall" in d]
    print(f"{args.workload} check: {'PASS' if rec['correct'] else 'FAIL'} "
          f"({rec['attempted']} operations, {rec['failed']} failed"
          + (f"; planted recall {min(recall):.4f}" if recall else "")
          + f"); record {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": rec["correct"], "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]],
                                "unit": m["unit"]} for m in listed}}))
    return 0


def run_all(args) -> int:
    """Every workload in its own process, one after another; each writes
    its record when it finishes."""
    summary, rc = {}, 0
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if p.returncode != 0 or not lines:
            rc = p.returncode or 1
            summary[w] = None
            continue
        summary[w] = json.loads(lines[-1])
    ok = all(s is not None and s["correct"] for s in summary.values())
    print(json.dumps({"correct": ok, "workloads": summary}))
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "cdstore_spark", "__init__.py")):
        print(f"no cdstore_spark package under {ROOT}: run from the root "
              "of a source tree", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    return run_all(args) if args.workload == "all" else single(args)


if __name__ == "__main__":
    sys.exit(main())
