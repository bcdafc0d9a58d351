"""Pipeline benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed in a separate process (perfbench/gen.py),
then starts one JVM (perfbench/scala/PerfBench.scala) that runs the
workload as a closed loop: set-up, untimed warm-up units, then timed units
until --seconds have passed. The last stdout line is the result:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

# untimed warm-up units at the timed size, run after set-up: day 0 already
# runs every daily stage once, a corpus run needs one full-size run
WARMUP = {"daily_load": 0, "corpus_batch": 1}
HEAP = "2g"  # -Xms = -Xmx

# corpus_batch checks each run's stage counts against the counts recorded
# for its corpus (perfbench/record.py writes them). It has this many
# corpora; a seed picks corpus `seed % CORPORA`.
CORPORA = 64
RECORD = os.path.join(HERE, "expected", "corpus_batch.json")

END_TO_END = [("setup_s", "s"), ("unit_p50_ms", "ms"), ("rows_per_s", "rows/s"),
              ("write_amp", "bytes/byte"), ("heap_live_mb", "MiB"),
              ("ok_ratio", "ratio")]

DAILY_STAGES = ["master_sync", "nav_sync", "history_sync", "dividend_sync",
                "detail_sync", "holdings_sync", "allocations_sync"]
CORPUS_STAGES = ["clean", "quality", "ppl_gate", "exact_dedup", "near_dedup",
                 "span_rewrite", "decontaminate", "mixture", "pack", "shard"]
PER_LAYER = (
    [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("driver.nojob_ms", "ms"), ("sources.files_read", "count"),
     ("sources.scan_ms", "ms")]
    + [("stages.%s_ms" % s, "ms") for s in DAILY_STAGES]
    + [("merge.buckets_rewritten", "count"), ("merge.changed_row_ratio", "ratio"),
       ("io.bytes_written", "bytes"), ("dedup.jobs", "count"), ("dedup.job_ms", "ms")]
    + [("corpus.%s_ms" % s, "ms") for s in CORPUS_STAGES]
    + [("functions.clean_ns_per_row", "ns"), ("functions.minhash_ns_per_row", "ns"),
       ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"), ("shuffle.bytes", "bytes"),
       ("spill.bytes", "bytes"), ("io.files_written", "count"),
       ("trace.overhead_ms", "ms"), ("determinism.mismatches", "count")])

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def proc_stat():
    """Aggregate CPU jiffies: (total, busy, steal)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    steal = v[7] if len(v) > 7 else 0
    return sum(v[:8]), sum(v[:8]) - idle, steal


def host_record(before, after, own_cpu_s, wall_s):
    """Context only, never a gate: steal and other processes' CPU share of
    the host over the run."""
    hz = os.sysconf("SC_CLK_TCK")
    total = max(1, after[0] - before[0])
    busy_s = (after[1] - before[1]) / hz
    ncpu = os.cpu_count() or 1
    return {"cpu_steal_pct": round(100.0 * (after[2] - before[2]) / total, 3),
            "other_cpu_pct": round(100.0 * max(0.0, busy_s - own_cpu_s) / (wall_s * ncpu), 3),
            "own_cpu_s": round(own_cpu_s, 3), "wall_s": round(wall_s, 3),
            "host_cpus": ncpu, "bench_cpus": cpu_count()}


def children_cpu():
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def inputs(work_root, workload, seed):
    """Generated inputs for (workload, seed), made once per generator
    version; other seeds' inputs of the workload are removed."""
    gen = os.path.join(HERE, "gen.py")
    stamp = gen_stamp()
    base = os.path.join(work_root, "inputs", workload)
    out = os.path.join(base, "seed-%d" % seed)
    if os.path.isdir(base):
        for d in os.listdir(base):
            if d != "seed-%d" % seed:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    stamp_file = out + ".stamp"
    if not (os.path.isdir(out) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        subprocess.run([sys.executable, gen, "--workload", workload, "--seed",
                        str(seed), "--out", out], check=True)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return out


def gen_stamp():
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def recorded_counts(corpus):
    """The stage counts recorded for corpus `corpus`; an error when there
    are none for the current generator."""
    if not os.path.exists(RECORD):
        sys.exit("perfbench: no recorded corpus counts at %s; run perfbench/record.py" % RECORD)
    with open(RECORD) as f:
        rec = json.load(f)
    if rec["gen_sha256"] != gen_stamp():
        sys.exit("perfbench: gen.py changed since the corpus counts were recorded; "
                 "run perfbench/record.py")
    if str(corpus) not in rec["counts"]:
        sys.exit("perfbench: no recorded counts for corpus %d" % corpus)
    return rec["counts"][str(corpus)]


def jvm(classpath, work, args):
    """The command line of the measured JVM, run with `work` as its cwd."""
    return (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
            + ["-Xms" + HEAP, "-Xmx" + HEAP,
               "-Duser.language=en", "-Duser.country=US",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
               "-Djava.io.tmpdir=" + work,
               "-cp", classpath, "perfbench.PerfBench", "--cores", str(cpu_count())]
            + args)


def run_jvm(cmd, work, log_path, deadline):
    """Runs the JVM to its end or the deadline; its exit code or "timeout"."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local")))
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return "timeout"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec, launch):
    units = rec["units"]
    ms = [u["ms"] for u in units]
    written = sum(u["counts"]["io.bytes_written"] for u in units)
    return {
        "setup_s": rec["first_unit_epoch_ms"] / 1000.0 - launch,
        "unit_p50_ms": median(ms),
        "rows_per_s": sum(u["rows"] for u in units) / (sum(ms) / 1000.0),
        "write_amp": written / max(1, sum(u["in_bytes"] for u in units)),
        "heap_live_mb": rec["heap_live_mb"],
        "ok_ratio": sum(1 for u in units if u["ok"]) / len(units),
    }


def per_layer(rec):
    tr = rec["trace"]
    units = tr["units"]
    vals = {}
    for name, _ in PER_LAYER:
        xs = [u["layer"].get(name, u["counts"].get(name)) for u in units]
        xs = [x for x in xs if x is not None]
        vals[name] = median(xs) if xs else 0.0
    vals.update(tr["extras"])
    vals["trace.overhead_ms"] = (median([u["ms"] for u in units])
                                 - median([u["ms"] for u in tr["untraced_units"]]))
    vals["determinism.mismatches"] = len(tr["nondeterministic"])
    return vals


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    t_start = time.time()
    compiled, classpath = build.build()
    # the first run in a checkout may spend up to 900 s, later ones 180 s
    deadline = t_start + (880 if compiled else 172)
    work_root = build.build_dir()
    work = os.path.join(work_root, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    extra = []
    in_seed = a.seed
    if a.workload == "corpus_batch":
        in_seed = a.seed % CORPORA
        record = os.path.join(work, "recorded.json")
        with open(record, "w") as f:
            json.dump(recorded_counts(in_seed), f)
        extra = ["--record", record]
    inp = inputs(work_root, a.workload, in_seed)
    out = os.path.join(work_root, "work", a.workload + ".result.json")
    if os.path.exists(out):
        os.remove(out)
    log_path = os.path.join(work_root, "work", a.workload + ".log")

    cmd = jvm(classpath, work,
              ["--workload", a.workload, "--input", inp, "--work", os.path.join(work, "run"),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--warmup", str(WARMUP[a.workload]), "--out", out] + extra)
    stat0, cpu0 = proc_stat(), children_cpu()
    launch = time.time()
    rc = run_jvm(cmd, work, log_path, deadline)
    wall = time.time() - launch
    host = host_record(stat0, proc_stat(), children_cpu() - cpu0, wall)
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit("perfbench: the %s JVM failed (%s); log at %s" % (a.workload, rc, log_path))

    with open(out) as f:
        rec = json.load(f)
    units = rec["trace"]["untraced_units"] if a.trace else rec["units"]
    failed = sum(1 for u in units if not u["ok"])
    # a set-up or warm-up unit that fails its check makes the run incorrect
    correct = failed == 0 and not rec["setup_errors"]
    if a.trace:
        values, names = per_layer(rec), PER_LAYER
        correct = correct and all(u["ok"] for u in rec["trace"]["units"])
    else:
        values, names = end_to_end(rec, launch), END_TO_END
    report = {"workload": a.workload, "seed": a.seed, "input_seed": in_seed, "trace": a.trace,
              "timed_units": len(units), "warmup_units": rec["warmup_units"],
              "unit_ms": [round(u["ms"], 3) for u in units],
              "errors": rec["setup_errors"] + sorted({u["error"] for u in units if u["error"]}),
              "host": host}
    if a.trace:
        report["determinism"] = {"compared": rec["trace"]["deterministic"],
                                 "differing": rec["trace"]["nondeterministic"]}
        report["traced_unit_ms"] = [round(u["ms"], 3) for u in rec["trace"]["units"]]
    with open(os.path.join(work_root, "work", "%s-seed%d-trace%d.json"
                           % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump({"report": report, "record": rec}, f, indent=1)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": len(units), "failed": failed,
                      "metrics": {n: {"value": values[n], "unit": u} for n, u in names}}))


if __name__ == "__main__":
    main()
