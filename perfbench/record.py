"""Records the stage counts that corpus_batch checks each run against.

    python3 perfbench/record.py

Generates every corpus_batch corpus (seeds 0 .. run.CORPORA-1) with
gen.py, runs `CorpusPipeline.run` once over each in one JVM, and writes
the stage row counts, keyed by corpus seed and stamped with gen.py's
SHA-256, to perfbench/expected/corpus_batch.json. Run it again after a
change to gen.py, or to the engine when its corpus output is meant to
change; commit the file it writes.
"""
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402


def write_record(stamp, counts):
    """One line per corpus, so a re-record diffs by corpus."""
    lines = ['  "%s": %s' % (k, json.dumps(counts[k])) for k in sorted(counts, key=int)]
    with open(run.RECORD, "w") as f:
        f.write('{\n "gen_sha256": "%s",\n "counts": {\n%s\n }\n}\n'
                % (stamp, ",\n".join(lines)))


def main():
    _, classpath = build.build()
    root = os.path.join(build.build_dir(), "record")
    shutil.rmtree(root, ignore_errors=True)
    work = os.path.join(root, "work")
    os.makedirs(work)
    dirs = {}
    for seed in range(run.CORPORA):
        d = os.path.join(root, "inputs", "seed-%d" % seed)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload",
                        "corpus_batch", "--seed", str(seed), "--out", d], check=True)
        dirs[d] = seed
    out = os.path.join(root, "counts.json")
    cmd = run.jvm(classpath, work, ["--workload", "corpus_record", "--work",
                                    os.path.join(work, "run"), "--inputs", ",".join(dirs),
                                    "--out", out])
    log_path = os.path.join(root, "record.log")
    rc = run.run_jvm(cmd, work, log_path, time.time() + 3600)
    if rc != 0 or not os.path.exists(out):
        sys.exit("perfbench: recording failed (%s); log at %s" % (rc, log_path))
    with open(out) as f:
        counts = {str(dirs[d]): c for d, c in json.load(f).items()}
    os.makedirs(os.path.dirname(run.RECORD), exist_ok=True)
    write_record(run.gen_stamp(), counts)
    shutil.rmtree(root, ignore_errors=True)
    print("recorded %d corpora to %s" % (len(counts), run.RECORD))


if __name__ == "__main__":
    main()
