#!/usr/bin/env python3
"""End-to-end benchmark of the graft migration engine and its stored
near-dup index.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark (sbt, offline) into `.bench_build/` and records a JVM class-data
archive from one tiny migration; later runs reuse both. Each run then

  1. generates the workload's inputs from the seed (cached per seed; the
     time is reported as `gen_s`, outside set-up),
  2. starts one fresh JVM (`graftbench.Main`, Spark `local[N]`, N = usable
     cores) that sets up the session, runs the workload's cold operation
     and then repeats its operation a fixed number of times and for at
     least `--seconds`, checking every output,
  3. prints the artifact lines and, last, one JSON line with `correct`,
     `attempted`, `failed` and `metrics` — the end-to-end metrics with
     `--trace 0`, the per-layer metrics with `--trace 1`.

Workloads, metric definitions and the layer → end-to-end table are in
`perfbench/README.md`.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("migrate_biglog", "migrate_10x", "neardup_ingest")
RUN_LIMIT_S = 170  # a run must end within 180 s
HEAP = "3g"

SPANS = ("catalog.introspect", "workload.mine", "convert.decide", "map.budget", "map.guard",
         "sink.write", "index.build", "index.screen", "index.append", "index.delete", "index.compact")
SPAN_COUNTERS = ("wall_s", "plan_s", "commit_s", "jobs", "tasks", "exec_cpu_s", "sched_delay_s",
                 "shuffle_write_mb")
# per-layer metrics beyond the span counters: name -> (source span, counter)
SPAN_EXTRAS = {
    "workload.mine.input_mb": ("workload.mine", "input_mb"),
    "workload.mine.task_skew": ("workload.mine", "task_skew"),
    "sink.write.shuffle_stage_s": ("sink.write", "shuffle_stage_s"),
    "sink.write.result_stage_s": ("sink.write", "result_stage_s"),
    "sink.write.spill_mb": ("sink.write", "spill_mb"),
    "sink.write.output_mb": ("sink.write", "output_mb"),
    "index.screen.shuffle_read_mb": ("index.screen", "shuffle_read_mb"),
}
WORKLOAD_EXTRAS = ("workload.mine.statements", "map.budget.demotions", "index.append.files_written",
                   "index.live_files", "index.kept_ratio", "index.inline_compactions",
                   "index.redelivery_skips")
UNITS = {"_s": "s", "_mb": "MB", "_pct": "%", "_ratio": "ratio", "_skew": "ratio"}


def warm_ops(manifest):
    """How many warm operations the gated figures use: migrations after
    the cold one, or ingest batches after the first. A fixed count, since
    later operations run warmer code and a varying count would move the
    figure; for ingest two whole takedown cycles, so every figure carries
    the same share of takedowns."""
    return 2 * manifest["stream"]["takedown_every"] if "stream" in manifest else 2


def per_layer_names():
    names = [f"{s}.{c}" for s in SPANS for c in SPAN_COUNTERS]
    return names + list(SPAN_EXTRAS) + list(WORKLOAD_EXTRAS) + [
        "driver.gc_s", "driver.heap_peak_mb", "trace.unattributed_jobs", "trace.overhead_pct"]


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- statistics

def tail(samples, beyond=10):
    """The highest whole percentile whose nearest-rank value has at least
    `beyond` samples after it: (value, percentile, samples). None when
    there are too few samples for any percentile to qualify."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return None
    pct = math.floor(100 * (n - beyond) / n)
    rank = max(1, math.ceil(pct * n / 100))
    while rank > n - beyond:  # float rounding guard
        pct -= 1
        rank = max(1, math.ceil(pct * n / 100))
    return xs[rank - 1], pct, n


def median(xs):
    return statistics.median(xs) if xs else None


# ---------------------------------------------------------------- build

def fingerprint():
    """Content hash of everything the build reads: the program's and the
    benchmark's build files and sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"), os.path.join(ROOT, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            if p.endswith((".sbt", ".scala", ".java", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def java_opts():
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def ensure_build():
    """Build once per source state; returns the build record."""
    record_path = os.path.join(BUILD, "build.json")
    fp = fingerprint()
    if os.path.exists(record_path):
        with open(record_path) as fh:
            rec = json.load(fh)
        if rec.get("fingerprint") == fp and all(os.path.exists(j) for j in rec["classpath"] + [rec["cds"]]):
            return rec
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.perf_counter()
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as fh:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspathAsJars"], fh, cwd=HERE, env=sbt_env(), limit=700)
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if ln.endswith(".jar") and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}", 1)
    classpath = cps[-1].split(os.pathsep)
    rec = {"fingerprint": fp, "classpath": classpath, "build_s": time.perf_counter() - t0,
           "cds": train_cds(classpath)}
    with open(record_path, "w") as fh:
        json.dump(rec, fh, indent=1)
    rec["built_now"] = True
    return rec


def train_cds(classpath):
    """Record a class-data archive of the classes one tiny migration loads
    (Spark, the program, the benchmark); every measured JVM maps it with
    `-Xshare:on`, so an archive that cannot be used fails the run instead
    of silently costing start-up time. On a 4-core host it cuts the first
    session build from ~11-13 s to ~4-5 s wall, which keeps every run of
    all three workloads inside the time budget."""
    import gen
    archive = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    m = gen.prepare("cds_training", 1, os.path.join(BUILD, "inputs"))
    work = os.path.join(BUILD, "work", "train")
    log = os.path.join(BUILD, "train.log")
    with open(log, "w") as fh:
        rc = run_bounded([java_bin(), f"-XX:ArchiveClassesAtExit={archive}"] + java_opts() + [
            "-cp", os.pathsep.join(classpath), "graftbench.Main", "--workload", "cds_training",
            "--manifest", os.path.join(m["dir"], "manifest.json"), "--work", work,
            "--out", os.path.join(BUILD, "train.json"), "--seconds", "0", "--warm", "1", "--trace", "1",
            "--cores", str(cores())], fh, limit=300, env=jvm_env(work))
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(archive):
        fail(f"class-data archive training failed (exit {rc}); see {log}", 1)
    return archive


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_env(work):
    """Spark's scratch space inside the checkout, whatever the caller set,
    and the loopback address, so the session never depends on the host
    name resolving."""
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")


def run_bounded(cmd, out, limit, **kw):
    """Run `cmd` in its own process group; kill the group after `limit`
    seconds. Always waits for the process to end."""
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def commit_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree:" + fingerprint()


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f[:8])
    except (OSError, ValueError):
        return 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return ",".join(fh.read().split()[:3])
    except OSError:
        return "unavailable"


# ---------------------------------------------------------------- metrics

def end_to_end(warm_n, rec):
    """The gated metrics, which every workload reports: the CPU seconds the
    JVM spends (all threads: driver, executors, GC, JIT) on set-up, on the
    cold work (the first migration; the index build plus the final
    compaction) and on a warm operation (a warm migration; an ingest batch
    after the first), and the megabytes each operation writes. CPU seconds
    are gated rather than wall time because wall time swings with the
    host's CPU steal; the wall-clock figures are in the named metrics.
    Returns (metrics, named artifact metrics, sample counts)."""
    ops = rec["ops"]
    ok = lambda kind, key="s": [o[key] for o in ops if o["kind"] == kind and o["ok"]]
    first = lambda xs: xs[0] if xs else None
    info = rec["info"]
    named = {}
    if "doc_mb" in info:
        warm, cold = ok("migration"), ok("cold_migration")
        warm_cpu = ok("migration", "cpu_s")[:warm_n]
        e2e = {"cold_cpu_s": first(ok("cold_migration", "cpu_s")), "op_cpu_s": median(warm_cpu),
               "mb_per_op": info["doc_mb"]}
        counts = {"cold_cpu_s": 1, "op_cpu_s": len(warm_cpu), "mb_per_op": 1}
        named.update(cold_migration_s=(first(cold), "s", 1), migration_s=(median(warm), "s", len(warm)),
                     rows_per_s=(info["source_rows"] * len(warm) / sum(warm) if warm else None, "1/s", len(warm)),
                     doc_mb=(info["doc_mb"], "MB", 1))
    else:
        # the first batch pays the screen and append paths' first-use
        # cost; the warm operations are whole takedown cycles after it,
        # averaged so each takedown and inline compaction counts in full
        batches, cpu = info["batch_s"], info["batch_cpu_s"]
        build, build_cpu, compact_cpu = ok("build"), ok("build", "cpu_s"), ok("compact", "cpu_s")
        warm_cpu = cpu[1:1 + warm_n]
        e2e = {"cold_cpu_s": build_cpu[0] + compact_cpu[0] if build_cpu and compact_cpu else None,
               "op_cpu_s": statistics.fmean(warm_cpu) if len(warm_cpu) == warm_n else None,
               "mb_per_op": info["appended_mb_per_batch"]}
        counts = {"cold_cpu_s": 2, "op_cpu_s": len(warm_cpu), "mb_per_op": info["plain_appends"]}
        screens = ok("screen")
        t = tail(screens)
        named.update(build_s=(first(build), "s", 1),
                     cold_start_s=(build[0] + batches[0] if build and batches else None, "s", 1),
                     batch_p50_s=(median(batches[1:]), "s", len(batches) - 1),
                     ingest_docs_per_s=(info["screened_docs"] / info["stream_s"], "1/s", len(screens)),
                     screen_p50_s=(median(screens), "s", len(screens)),
                     screen_tail_s=(t[0] if t else None, "s", len(screens)),
                     append_p50_s=(median(ok("append")), "s", len(ok("append"))),
                     takedown_p50_s=(median(ok("takedown")), "s", len(ok("takedown"))),
                     compact_s=(first(ok("compact")), "s", 1))
        named["screen_tail_rule"] = (f"p{t[1]} of {t[2]}" if t else f"not met: {len(screens)} samples, needs 11",
                                     "", len(screens))
    e2e["setup_s"] = rec["setup_cpu_s"]
    counts["setup_s"] = 1
    named["setup_wall_s"] = (rec["setup_s"], "s", 1)
    failed = sum(1 for o in ops if not o["ok"])
    named["error_rate"] = (failed / len(ops) if ops else 1.0, "ratio", len(ops))
    return e2e, named, counts


def warm_shares(rec):
    """Each span's share of the wall time of the warm operations: every
    call but a span's first (the cold migration, or the first batch)."""
    warm = {s: sum(ws[1:]) for s, ws in rec["span_call_s"].items()}
    total = sum(warm.values())
    return {s: v / total for s, v in sorted(warm.items())} if total > 0 else {}


def per_layer(rec):
    layers = rec.get("layers") or {}
    out = {}
    for s in SPANS:
        st = layers.get(s, {})
        calls = st.get("calls", 0)
        for c in SPAN_COUNTERS:
            out[f"{s}.{c}"] = st.get(c, 0) / calls if calls else 0.0
    for name, (s, c) in SPAN_EXTRAS.items():
        st = layers.get(s, {})
        calls = st.get("calls", 0)
        out[name] = st.get(c, 0) / calls if calls and c != "task_skew" else st.get(c, 0.0)
    for name in WORKLOAD_EXTRAS:
        out[name] = float(rec["extras"].get(name, 0.0))
    out["driver.gc_s"] = rec["driver"]["gc_s"]
    out["driver.heap_peak_mb"] = rec["driver"]["heap_peak_mb"]
    out["trace.unattributed_jobs"] = float(rec.get("unattributed_jobs") or 0)
    out["trace.overhead_pct"] = 100.0 * (rec.get("listener_s") or 0.0) / rec["run_wall_s"]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.perf_counter()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to {os.path.basename(HERE)}/ (expected build.sbt and src/main/scala)")
    sys.path.insert(0, HERE)
    try:
        import gen
    except ImportError as e:
        fail(f"input generator unavailable: {e}")

    load_before = loadavg()
    build = ensure_build()
    manifest = gen.prepare(args.workload, args.seed, os.path.join(BUILD, "inputs"))

    n = cores()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "work", tag)
    out = os.path.join(BUILD, "results", tag + ".record.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    # a run that built may take 900 s in all; any other run 180 s
    remaining = (880 if build.get("built_now") else RUN_LIMIT_S) - (time.perf_counter() - start)
    jvm_log = os.path.join(BUILD, "logs", tag + ".log")
    os.makedirs(os.path.dirname(jvm_log), exist_ok=True)
    t_jvm = time.perf_counter()
    ticks0 = cpu_ticks()
    with open(jvm_log, "w") as fh:
        rc = run_bounded([java_bin(), f"-XX:SharedArchiveFile={build['cds']}", "-Xshare:on"] + java_opts() + [
            "-cp", os.pathsep.join(build["classpath"]), "graftbench.Main",
            "--workload", args.workload, "--manifest", os.path.join(manifest["dir"], "manifest.json"),
            "--work", work, "--out", out, "--seconds", str(args.seconds), "--warm", str(warm_ops(manifest)),
            "--trace", str(args.trace),
            "--cores", str(n), "--deadline", str(max(10.0, min(120.0, remaining - 45)))],
            fh, limit=max(5.0, remaining), env=jvm_env(work))
    jvm_s = time.perf_counter() - t_jvm
    ticks1 = cpu_ticks()
    steal_pct = 100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(jvm_log).readlines()[-40:]))
        fail(f"benchmark JVM failed (exit {rc}); see {jvm_log}", 1)
    with open(out) as fh:
        rec = json.load(fh)
    ops = rec["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    e2e, named, counts = end_to_end(warm_ops(manifest), rec)
    complete = all(v is not None for v in e2e.values())
    correct = failed == 0 and complete and rec.get("unattributed_jobs") in (None, 0)

    # artifact: stamps, every named metric with its unit and sample count
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "commit": commit_id(), "nproc": n, "master": rec["master"], "driver_heap": HEAP,
        "max_heap_mb": rec["driver"]["max_heap_mb"], "spark": rec["spark_version"],
        "loadavg_before": load_before, "loadavg_jvm_start": rec["loadavg_before"],
        "loadavg_after": loadavg(), "cpu_steal_pct": steal_pct, "gen_s": manifest["gen_s"],
        "gen_cached": manifest.get("gen_cached"), "jvm_s": jvm_s,
        "digest": rec["digest"], "metric_samples": counts,
        "named": {k: {"value": v, "unit": u, "samples": c} for k, (v, u, c) in named.items()},
        "failures": [o for o in ops if not o["ok"]], "info": rec["info"], "extras": rec["extras"],
        "warm_span_share": warm_shares(rec),
    }
    if args.trace:
        metrics = per_layer(rec)
        artifact["layers_raw"] = rec.get("layers")
        units = {k: unit_of(k) for k in metrics}
    else:
        metrics = {k: (0.0 if v is None else v) for k, v in e2e.items()}
        units = {"setup_s": "s", "cold_cpu_s": "s", "op_cpu_s": "s", "mb_per_op": "MB"}
    artifact["metrics"] = metrics
    art_path = os.path.join(BUILD, "results", tag + ".json")
    with open(art_path, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)

    for k in ("workload", "seed", "commit", "nproc", "master", "driver_heap", "loadavg_before",
              "loadavg_after", "cpu_steal_pct", "gen_s", "gen_cached", "digest"):
        print(f"stamp {k} {artifact[k]}")
    for k, (v, u, c) in named.items():
        print(f"named {k} {v} {u} samples={c}")
    for k, v in artifact["warm_span_share"].items():
        print(f"share {k} {v:.3f} of warm-operation span time")
    for o in artifact["failures"]:
        print(f"FAILED {o['kind']}: {o['detail']}")
    print(f"artifact {os.path.relpath(art_path, ROOT)}")
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
