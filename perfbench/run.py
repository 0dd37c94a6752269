#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine with the repository's own
sbt build and the harness in perfbench/harness (offline, first run only),
generates the workload's inputs from the seed, runs the workload in a
`spark-submit` JVM sized from this machine, checks every output, and prints
one JSON line: every end-to-end metric with --trace 0, every per-layer metric
with --trace 1. Workloads and metrics are described in perfbench/README.md.
Everything the run writes stays under perfbench/.work/.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
HARNESS_TIMEOUT_S = 170
SETUP_REPS = 3

# The frozen-basket corpus members (dedup, ANN, chunk dedup, graph) plus the
# two queries the roadmap names for the broadcast guards: d14 (the guard
# regression) and gr5 (the wedge-join skew). e13 and t30, also basket members,
# are left out to keep 48 runs inside the benchmark's time limit: they cost
# about 7 s of a run, and e14/e16 cover the IVF probes t30 adds.
CORPUS_QUERIES = [
    "d3_lsh_candidate_pairs", "d4_jaccard_pairs", "d8_semdedup", "e1_cosine_topk",
    "e14_ann_ivf_persisted", "e16_ann_ivfpq_persisted", "t12_chunk_dedup",
    "gr2_copurchase_triangles", "d14_sequential_admission",
    "gr5_link_prediction_supported"]

CORPUS = {"documents": 200, "embeddings": 200}

# Inputs are seeded samples of the committed sf0.1 extract (see gen.py). Per-query
# cost on this engine is mostly fixed job overhead, so they are kept small enough
# for a run to fit the benchmark's time.
WORKLOADS = {
    # A run measures one whole pass per `pass_s` of --seconds; a pass takes the
    # current engine 10-14 s, so every run has the same sample count. A second
    # pass per run would not fit the benchmark's runs into their time limit.
    "corpus_search": {"loop": "closed", "queries": CORPUS_QUERIES, "customers": 300,
                      "events": 2000, "pass_s": 30.0, **CORPUS},
    # One change batch keeps the current engine busy 7-9 s with its merge sink;
    # at a 14 s interval the writer is busy a little over half the time, so a
    # host slowdown of up to two thirds delays no batch past the next one's due
    # time, and lateness does not swamp freshness. A batch is due at every
    # multiple of the interval within --seconds, after one warm-up batch. After
    # the last one silver is compacted and vacuumed down to its last 4
    # versions: enough that a read resolving the head just before the
    # compaction can still time-travel two versions back.
    "refresh_mixed": {"loop": "open", "customers": 1500, "initial": 10000, "new": 300,
                      "updates": 150, "deletes": 50, "bad": 5, "events": 400,
                      "interval_s": 14.0, "reads_per_s": 1.25, "warm_batches": 1,
                      "keep_last": 4},
}

SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                " -Dsbt.offline=true -Xmx2g",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    """The cores this process may run on, as `nproc` counts them."""
    return len(os.sched_getaffinity(0))


def driver_mem():
    """SPARK_DRIVER_MEM, else half of MemTotal clamped to 2..8 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    g = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                g = int(int(line.split()[1]) / 2097152)
    return f"{min(8, max(2, g))}g"


def mem_mb(size):
    """A JVM memory size such as `7g` or `4096m`, in MB."""
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    unit = size[-1].lower()
    return int(float(size[:-1]) * scale[unit]) if unit in scale else int(size) >> 20


def spark_home():
    """SPARK_HOME, else the installation that `spark-submit` on PATH is in."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("perfbench: neither SPARK_HOME nor spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def newest(paths):
    return max((os.path.getmtime(p) for p in paths), default=0.0)


def jar(dirpath):
    js = sorted(glob.glob(os.path.join(dirpath, "target", "scala-2.13", "*.jar")))
    return js[0] if js else None


def build():
    """Package the engine (the repository's build) and the harness when a jar
    is missing or older than its sources."""
    engine_src = glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True)
    harness_src = glob.glob(os.path.join(HARNESS, "src", "**", "*.scala"), recursive=True)
    harness_src.append(os.path.join(HARNESS, "build.sbt"))
    env = dict(os.environ, SPARK_HOME=spark_home(), **SBT_ENV)
    for where, srcs in ((ROOT, engine_src + [os.path.join(ROOT, "build.sbt")]),
                        (HARNESS, harness_src)):
        j = jar(where)
        if j and os.path.getmtime(j) >= newest(srcs) and \
                (where == ROOT or os.path.getmtime(j) >= os.path.getmtime(jar(ROOT))):
            continue
        log(f"building {os.path.relpath(where, ROOT) or '.'}")
        t = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                           cwd=where, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0 or not jar(where):
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"build failed in {where}")
        log(f"built in {time.time() - t:.0f}s")
    return jar(ROOT), jar(HARNESS)


def make_inputs(cfg, seed, data):
    """Generate the workload's inputs; returns what the checks need."""
    if cfg["loop"] == "closed":
        rows = gen.write_tables(data, seed, cfg["customers"], cfg["documents"],
                                cfg["embeddings"], cfg["events"])
        return {"rows": rows}
    n_batches = cfg["warm_batches"] + cfg["batches"]
    states, sizes = gen.write_refresh(
        data, seed, cfg["initial"], n_batches, cfg["new"], cfg["updates"],
        cfg["deletes"], cfg["bad"], cfg["events"])
    # the corpus sample of the traced run's microbenchmarks
    gen.write_corpus(data, seed, CORPUS["documents"], CORPUS["embeddings"])
    return {"rows": {"orders_initial": cfg["initial"], "batches": n_batches},
            "states": states, "batch_bytes": sizes}


def private_tmp(tmp, argv):
    """`argv` run in a mount namespace whose /tmp is `tmp`: the engine
    hard-codes paths under /tmp (the IVF index root), and a run must neither
    see nor touch another run's. Exits when no such namespace can be made."""
    cmd = ["unshare", "-m", "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"', tmp]
    if not shutil.which("unshare") or subprocess.run(
            cmd + ["true"], stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode:
        raise SystemExit("perfbench: cannot give the engine a private /tmp "
                         "(needs `unshare -m` and `mount --bind`)")
    return cmd + argv


def run_harness(cmd, cwd, logpath):
    with open(logpath, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        finally:
            try:  # nothing the run started may outlive it
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    return rc


def main():
    # a terminated run still stops the engine JVM (run_harness's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: no engine sources next to perfbench/ "
                         "(run from a checkout of the repository)")
    cfg = dict(WORKLOADS[args.workload])
    # A traced closed run traces its odd passes, a traced refresh run every
    # other batch counting back from the last one, which compacts. Either way
    # there are at least three units, and the untraced ones are the base of
    # trace.overhead_frac.
    if cfg["loop"] == "closed":
        cfg["passes"] = max(3 if args.trace else 1, int(args.seconds // cfg["pass_s"]))
    else:
        cfg["batches"] = max(3, math.ceil(args.seconds / cfg["interval_s"]))

    engine_jar, harness_jar = build()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    t = time.time()
    inputs = make_inputs(cfg, args.seed, data)
    log(f"inputs generated in {time.time() - t:.1f}s: {inputs['rows']}")

    n = cores()
    record = os.path.join(work, "record.jsonl")
    hargs = {"workload": args.workload, "trace": args.trace, "seed": args.seed,
             "cores": n, "data": data, "work": work, "out": record,
             "setup_reps": SETUP_REPS}
    if cfg["loop"] == "closed":
        hargs.update(queries=",".join(cfg["queries"]), passes=cfg["passes"])
    else:
        hargs.update(interval=cfg["interval_s"],
                     rate=cfg["reads_per_s"],
                     warm_batches=cfg["warm_batches"], batches=cfg["batches"],
                     keep_last=cfg["keep_last"],
                     customers=cfg["customers"])
    # A fixed young generation and a 2 GB initial heap: under G1's adaptive
    # sizing the resident peak swung between 1.9 and 3.7 GB from run to run
    # on the same inputs, and with only the young generation fixed it still
    # jumped between 1.67 and 1.88 GB, as the heap grew in one step or two.
    mem = driver_mem()
    submit = [os.path.join(spark_home(), "bin", "spark-submit"),
              "--master", f"local[{n}]", "--driver-memory", mem,
              "--conf", f"spark.local.dir={tmp}",
              "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
                        f"-Xms{min(2048, mem_mb(mem))}m -Xmn512m",
              "--jars", engine_jar, "--class", "perfbench.Harness", harness_jar]
    submit += [f"{k}={v}" for k, v in hargs.items()]
    cmd = private_tmp(tmp, submit)
    t = time.time()
    rc = run_harness(cmd, work, os.path.join(work, "harness.log"))
    log(f"harness exited {rc} after {time.time() - t:.1f}s")
    if rc != 0 or not os.path.exists(record):
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness failed ({rc})")
    with open(record) as f:
        rec = [json.loads(line) for line in f if line.strip()]
    result = report.build(cfg, rec, inputs, work, bool(args.trace))
    for line in result.pop("notes"):
        log(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    try:
        code = main()
    except SystemExit as e:
        if e.code is None or isinstance(e.code, int):
            code = e.code or 0
        else:
            print(e.code, file=sys.stderr)
            code = 1
    sys.stdout.flush()
    sys.stderr.flush()
    # No interpreter teardown: the thread pools of the native column-store
    # libraries (pyarrow, DuckDB) have aborted the process while being
    # destroyed at exit ("terminate called without an active exception"),
    # after the result was printed. Every process the run started has ended.
    os._exit(code)
