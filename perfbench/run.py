#!/usr/bin/env python3
"""A/B benchmark of graft's OCDS load pipeline, streaming loader and pair search.

    python3 perfbench/run.py --workload ocds_load --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Run from the root of a source checkout. The first run compiles the engine
and the harness (`perfbench/build.sbt`) into `.bench_build/`; inputs and
lakes live in `.bench_work/`. The last line of stdout is the result JSON:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
HEAP = "2g"
DEADLINE_S = 170

WORKLOADS = {
    # one closed collection per iteration, loaded, compiled and checked
    "ocds_load": {"n_releases": 4000, "releases_per_file": 400},
    # one open collection fed batches of 1-2 files, one drain per batch
    "ocds_stream": {"n_releases": 1200, "releases_per_file": 150},
    # five near-duplicate queries over sf0.1-shaped documents/embeddings
    "pair_search": {"n_docs": 500, "n_vecs": 250},
}
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s", "peak_heap_mb": "MB"}
SPANS = ["Pipeline.load", "Pipeline.compileAndFinish", "Pipeline.runChecks",
         "q_ngram_jaccard", "q_dedup_clusters", "q_neardup_lsh", "q_simhash_neardup",
         "q_neardup_embedding"]
COUNTERS = {"wall_s": "s", "self_s": "s", "busy_share": "share", "jobs": "count",
            "tasks": "count", "task_cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
            "spill_mb": "MB", "output_mb": "MB", "exchanges": "count"}
KERNELS = ["ocds.Canonical.parse_us", "ocds.Upgrade.upgradeJson_us",
           "ocds.Canonical.contentHash_us", "ocds.Merge.compile_us",
           "check.JsonSchema.validate_us"]
MODULES = ["TextQueries", "VectorQueries", "BucketPairs", "functions"]
# the per-layer metrics of BENCHMARK.json, reported by every traced run
PER_LAYER = (
    {f"{s}.{c}": u for s in SPANS for c, u in COUNTERS.items()}
    | {k: "us" for k in KERNELS}
    | {"ingest.dedup_ratio": "share", "lake.bytes_per_input_byte": "share",
       "control.plane_bytes": "bytes", "control.PlaneStore.save_ms": "ms"}
    | {f"task_cpu_s.by_module.{m}": "s" for m in MODULES}
    | {"trace.op_p50_s": "s", "trace.rows_per_s": "1/s"})
# ocds_stream's own layers, reported by its traced runs on top of PER_LAYER
STREAM_LAYER = (
    {f"streaming.batch.{c}": u for c, u in COUNTERS.items()}
    | {"streaming.empty_drain_s": "s", "streaming.tasks_growth_per_batch": "count"})
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution whose jars the build compiles against:
    $SPARK_HOME, else the first spark-submit on PATH that ships its jars."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        if glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return home
    raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 distribution")


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a graft checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached_digest, classpath = f.read().split("\n", 1)
        if cached_digest == digest:
            return classpath.strip(), digest
    log("building engine + harness with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g"]))
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or ".bench_build" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + lines[-1].strip())
    return lines[-1].strip(), digest


def git_stamp():
    if not os.path.isdir(os.path.join(ROOT, ".git")) or not shutil.which("git"):
        return None, None
    sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                         text=True).stdout.strip() or None
    status = subprocess.run(["git", "status", "--porcelain", "--", "src/main", "perfbench"],
                            cwd=ROOT, capture_output=True, text=True).stdout.strip()
    return sha, bool(status)


# ------------------------------------------------------------------ inputs

def prepare(workload, seed, work):
    """Generate the workload's inputs under `work`; returns the truth dict."""
    size = WORKLOADS[workload]
    if workload == "pair_search":
        tables, truth = gen.pair_corpus(seed, size["n_docs"], size["n_vecs"])
        gen.write_tables(tables, os.path.join(work, "sf"))
        truth["rows_per_op"] = truth["documents"] + truth["embeddings"]
        return truth
    files, truth = gen.ocds_collection(seed, size["n_releases"], size["releases_per_file"])
    gen.write_files(files, os.path.join(work, "input"))
    if workload == "ocds_stream":
        # batches of 1-2 consecutive files, drawn from the seed
        rng = random.Random(seed)
        names = [n for n, _ in files]
        plan = []
        while names:
            k = min(len(names), rng.randint(1, 2))
            plan.append(names[:k])
            names = names[k:]
        with open(os.path.join(work, "batches.json"), "w") as f:
            json.dump(plan, f)
        truth["batches"] = plan
    return truth


# ------------------------------------------------------------------ run

def launch(workload, work, seconds, trace, plant, classpath, deadline):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness", workload, work, str(seconds),
              "1" if trace else "0", plant])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "harness.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
            log("harness killed at the deadline")
        finally:  # also when this process is interrupted or terminated
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    events = [json.loads(line[3:]) for line in out.splitlines() if line.startswith("PB ")]
    if proc.returncode != 0:
        log(f"harness exited with {proc.returncode}; see {os.path.join(work, 'harness.log')}")
    return events, proc.returncode


def evaluate(workload, events, truth):
    """Checks every observation and reduces the events to timed operations.

    Returns (ops, problems): each op is a dict with `s`, its wall time in
    seconds (None when it failed, threw or went unchecked), and `rows`, the
    input rows it processed; problems lists every failed check."""
    problems = []
    ops = []
    episode = []  # ocds_stream: timed batches of the episode in progress

    def void(recs):
        for r in recs:
            r["s"] = None

    for e in events:
        ev = e["ev"]
        if ev == "op":
            if not e["ok"]:
                problems.append(f"{e['kind']} failed: {e.get('error')}")
            if not e["timed"]:
                continue
            rec = {"s": e["s"] if e["ok"] else None}
            if workload == "ocds_load":
                rec["rows"] = truth["items"]
                if e["ok"]:
                    bad = check.load_op(e, truth)
                    problems += bad
                    if bad:
                        rec["s"] = None
            elif workload == "pair_search":
                rec["rows"] = truth["rows_per_op"]
            else:
                rec["rows"] = sum(truth["per_file"][f]["items"]
                                  for f in truth["batches"][e.get("batch", 0)])
                episode.append(rec)
                if not e["ok"]:  # the episode is abandoned unchecked
                    void(episode)
                    episode = []
            ops.append(rec)
        elif ev == "store":
            bad = check.load_store(e, truth)
            problems += bad
            if bad:
                void(ops[-1:])
        elif ev == "episode":
            landed = [f for b in truth["batches"][:e["batches"]] for f in b]
            bad = check.stream_episode(e, gen.subset_truth(truth["per_file"], landed))
            problems += bad
            if bad:
                void(episode)
            episode = []
        elif ev == "stream_vs_batch":
            problems += check.stream_vs_batch(e)
    void(episode)  # batches of an episode that never reported
    return ops, problems


def end_to_end(ops, events, t_start):
    ok = [o for o in ops if o["s"] is not None]
    first = next((e["epoch_ms"] for e in events if e["ev"] == "first_timed"), None)
    heap = [e["old_gen_mb"] for e in events if e["ev"] == "heap"]
    if not ok or first is None or not heap:
        return None
    return {
        "setup_s": first / 1e3 - t_start,
        "op_p50_s": stats.median([o["s"] for o in ok]),
        "rows_per_s": sum(o["rows"] for o in ok) / sum(o["s"] for o in ok),
        "peak_heap_mb": max(heap),
    }


def per_layer(workload, events, ops, truth):
    spans = {}
    for e in events:
        if e["ev"] == "span":
            spans.setdefault(e["name"], []).append(e)
    layers = {e["name"]: e["value"] for e in events if e["ev"] == "layer"}
    m = dict.fromkeys(PER_LAYER | (STREAM_LAYER if workload == "ocds_stream" else {}), 0.0)
    for name, occ in spans.items():
        m[f"{name}.wall_s"] = stats.median([o["wall_s"] for o in occ])
        m[f"{name}.self_s"] = stats.median([o["self_s"] for o in occ])
        for c in COUNTERS:
            if c in occ[0]["counters"]:
                m[f"{name}.{c}"] = stats.median([o["counters"][c] for o in occ])
    for k, v in layers.items():
        m[k] = v
    if workload == "pair_search":
        passes = max(1, len([o for o in ops if o["s"] is not None]))
        for mod in MODULES:
            m[f"task_cpu_s.by_module.{mod}"] = sum(
                o["cpu_by_module"].get(mod, 0.0) for occ in spans.values() for o in occ) / passes
    stores = [e for e in events if e["ev"] in ("store", "episode")]
    if stores:
        s = stores[-1]
        names = ([f for b in truth["batches"][:s["batches"]] for f in b]
                 if workload == "ocds_stream" else list(truth["per_file"]))
        items = sum(truth["per_file"][n]["items"] for n in names)
        m["ingest.dedup_ratio"] = s["data_rows"] / items
        m["lake.bytes_per_input_byte"] = s["lake_bytes"] / sum(
            truth["per_file"][n]["bytes"] for n in names)
    return m


def run_one(workload, seed, seconds, trace, plant, classpath):
    deadline = time.time() + DEADLINE_S
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)  # the previous run's inputs and lakes
    os.makedirs(work)
    t_start = time.time()
    truth = prepare(workload, seed, work)
    events, code = launch(workload, work, seconds, trace, plant, classpath, deadline)
    ops, problems = evaluate(workload, events, truth)
    if workload == "pair_search" and os.path.exists(os.path.join(work, "oracle.json")):
        try:
            problems += check.pair_queries(work)
        except Exception as ex:  # an oracle that cannot run is a failed check
            problems.append(f"oracle check failed to run: {ex}")
    if code != 0 or not any(e["ev"] == "end" for e in events):
        problems.append(f"harness exited with code {code} before finishing")
    e2e = end_to_end(ops, events, t_start)
    stamp = next((e for e in events if e["ev"] == "stamp"), {})
    if e2e is None:
        problems.append("no timed operation completed")
    attempted = len(ops)
    failed = sum(o["s"] is None for o in ops)
    if workload == "pair_search":  # the checked untimed pass is an operation too
        attempted += 1
        failed += any(p.startswith("q_") for p in problems)
    if problems and failed == 0:
        failed = 1
    layers = None
    if trace:
        layers = per_layer(workload, events, ops, truth)
        if e2e:
            layers["trace.op_p50_s"] = e2e["op_p50_s"]
            layers["trace.rows_per_s"] = e2e["rows_per_s"]
    return {
        "correct": not problems,
        "attempted": max(attempted, 1),
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        "op_s": [o["s"] for o in ops],
        "problems": problems,
        "stamp": {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                  "nproc": os.cpu_count(), "master": stamp.get("master"),
                  "max_heap_mb": stamp.get("max_heap_mb"), "heap_flag": HEAP,
                  "spark": stamp.get("spark"), "java": stamp.get("java"),
                  "inputs": {k: v for k, v in truth.items()
                             if k not in ("per_file", "batches")}},
    }


def report(result, trace):
    """Human-readable block; returns the metrics dict for the result line."""
    print(f"stamp {json.dumps(result['stamp'], sort_keys=True)}")
    for p in result["problems"]:
        print(f"CHECK FAILED {p}")
    print("op_s " + " ".join("failed" if s is None else f"{s:.3f}" for s in result["op_s"]))
    e2e = result["e2e"] or {}
    metrics = {}
    if trace:
        units = PER_LAYER | STREAM_LAYER
        for name, value in (result["layers"] or dict.fromkeys(PER_LAYER, 0.0)).items():
            metrics[name] = {"value": value, "unit": units[name]}
    else:
        for name, unit in END_TO_END.items():
            if name in e2e:
                metrics[name] = {"value": e2e[name], "unit": unit}
    for name, v in metrics.items():
        print(f"metric {name} {v['value']:.6g} {v['unit']}")
    print(f"error_rate {result['failed'] / result['attempted']:.4f} "
          f"({result['failed']} of {result['attempted']} operations)")
    return metrics


def main(argv=None):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("none", "wrong", "throw"), default="none",
                    help="self-test only: plant a wrong result or a thrown call")
    a = ap.parse_args(argv)
    classpath, digest = build()
    sha, dirty = git_stamp()
    print(f"perfbench git_sha={sha} dirty={dirty} source_sha256={digest[:16]} "
          f"nproc={os.cpu_count()} heap={HEAP}")
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    results = {}
    for w in names:
        print(f"== {w}")
        results[w] = run_one(w, a.seed, a.seconds, False if a.workload == "all" else bool(a.trace),
                             a.plant, classpath)
        metrics = report(results[w], a.trace and a.workload != "all")
        if a.workload == "all" and a.trace:
            print(f"== {w} (traced)")
            traced = run_one(w, a.seed, a.seconds, True, a.plant, classpath)
            report(traced, True)
            base = (results[w]["e2e"] or {}).get("op_p50_s")
            tr = (traced["layers"] or {}).get("trace.op_p50_s")
            if base and tr:
                print(f"trace_overhead {w} op_p50_s {tr / base - 1:+.3f}")
    if a.workload == "all":
        metrics = {f"{w}.{k}": {"value": v, "unit": END_TO_END[k]}
                   for w, r in results.items() for k, v in (r["e2e"] or {}).items()}
    out = {"correct": all(r["correct"] for r in results.values()),
           "attempted": sum(r["attempted"] for r in results.values()),
           "failed": sum(r["failed"] for r in results.values()),
           "metrics": metrics}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
