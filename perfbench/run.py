"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the JVM side (perfbench/build.sbt,
compiled against the engine's own build) when the sources changed,
generates the workload's inputs from the seed (perfbench/gen.py), runs
one JVM that sets up, measures a closed loop for --seconds and checks
every output, then prints a human-readable table of the workload's
metrics and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 the per-layer ones (plus the tracing overhead in the
table). Everything it writes lands under .perfbench_work/ and the sbt
target directories. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("etl_nightly", "index_lifecycle")
# the input part each workload reads
PART = {"etl_nightly": "etl", "index_lifecycle": "corpus"}
DEADLINE_S = 175.0
BUILD_TIMEOUT_S = 880.0
JVM_HEAP = "3g"
CACHE_KEYS = 4
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, timeout, env=None, stdout=None):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.PIPE if stdout else None,
                         start_new_session=True, text=True)
    try:
        out, err = p.communicate(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout:.0f} s")
    return p.returncode, out, err


def source_stamp(root):
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"),
                os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile the engine and perfbench.Main; returns the JVM classpath."""
    stamp_file = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    stamp = source_stamp(root)
    main_class = os.path.join(HERE, "target", "scala-2.13", "classes",
                              "perfbench", "Main.class")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            os.path.exists(main_class):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Compile/fullClasspath"],
        HERE, BUILD_TIMEOUT_S, env=env, stdout=subprocess.PIPE)
    lines = [ln for ln in out.splitlines()
             if ln.startswith("/") and "classes" in ln]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:] + (err or "")[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def inputs(work, part, seed):
    """Generate (or reuse) the seed's inputs for one part."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    base = os.path.join(work, "inputs")
    d = os.path.join(base, f"{part}-{seed}-{tag}")
    if not os.path.exists(os.path.join(d, ".done")):
        os.makedirs(base, exist_ok=True)
        for old in sorted(os.listdir(base)):  # keep disk use bounded
            if old.startswith(part + "-"):
                shutil.rmtree(os.path.join(base, old), ignore_errors=True)
        summary = gen.generate(seed, d, parts=(part,))
        print("generated " + json.dumps(summary, sort_keys=True))
        open(os.path.join(d, ".done"), "w").close()
    return d


def java(classpath, run_dir, args):
    """The command line of one perfbench.Main process."""
    return (["java"] + [x for p in JDK17_OPENS
                        for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xmx{JVM_HEAP}", "-Xms1g",
             "-Dlog4j2.configurationFile=" +
             os.path.join(HERE, "log4j2.properties"),
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             "-cp", classpath, "perfbench.Main"] + args)


def base_cache(work, inputs_dir, classpath, java_args, budget, env):
    """The index base layouts built from this base corpus by this build of
    the engine, kept between runs. A missing one is built here, in its own
    process, so its cost never lands in the timed run's set-up."""
    h = hashlib.sha256(classpath.encode())
    with open(os.path.join(work, "build.stamp")) as f:
        h.update(f.read().encode())
    with open(os.path.join(inputs_dir, "corpus", "base.parquet"), "rb") as f:
        h.update(f.read())
    top = os.path.join(work, "base-cache")
    cache = os.path.join(top, h.hexdigest()[:16])
    if not os.path.exists(os.path.join(cache, ".done")):
        shutil.rmtree(cache, ignore_errors=True)
        d = os.path.join(work, "base-build")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(d, "tmp"))
        code, _, _ = run_group(java(classpath, d, java_args + [
            "--work", d, "--cache", cache, "--build-base"]), d, budget,
            env=env)
        shutil.rmtree(d, ignore_errors=True)
        if code != 0:
            fail(f"building the base layouts exited with {code}")
    # keep the most recent few keys, so builds run in turn reuse theirs
    os.utime(cache)
    keys = sorted(os.listdir(top),
                  key=lambda k: os.path.getmtime(os.path.join(top, k)))
    for old in keys[:-CACHE_KEYS]:
        shutil.rmtree(os.path.join(top, old), ignore_errors=True)
    return cache


# ---------------------------------------------------------------------------
# metrics

# every per-layer metric the traced run prints; BENCHMARK.json's per_layer
# list is the subset that both workloads exercise (the JSON line carries it)
LAYER_METRICS = [
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.actions", "count"),
    ("spark.no_task_ms", "ms"),
    ("spark.plan_ms", "ms"),
    ("etl.sql.plan_ms", "ms"),
    ("streaming.serve_plan_ms", "ms"),
    ("etl.segments.read_plan_ms", "ms"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.task_deser_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("etl.transform_s", "s"),
    ("etl.resolve_ratio", "ratio"),
    ("sources.extract_s", "s"),
    ("sources.rows_read", "count"),
    ("sources.write_s", "s"),
    ("sources.write_jobs", "count"),
    ("sources.files_written", "count"),
    ("sources.mb_written", "MB"),
    ("etl.sql.exec_ms", "ms"),
    ("etl.sql.jobs_per_stmt", "count"),
    ("etl.sql.files_read_ratio", "ratio"),
    ("etl.validate_s", "s"),
    ("etl.validate_jobs", "count"),
    ("etl.segments.append_jobs", "count"),
    ("etl.segments.delete_jobs", "count"),
    ("etl.segments.maintain_jobs", "count"),
    ("etl.segments.cdc_jobs", "count"),
    ("etl.segments.sparse.append_ms", "ms"),
    ("etl.segments.sparse.delete_ms", "ms"),
    ("etl.segments.sparse.maintain_ms", "ms"),
    ("etl.segments.sparse.serve_ms", "ms"),
    ("etl.segments.pq.append_ms", "ms"),
    ("etl.segments.pq.delete_ms", "ms"),
    ("etl.segments.pq.maintain_ms", "ms"),
    ("etl.segments.pq.serve_ms", "ms"),
    ("etl.segments.minhash.append_ms", "ms"),
    ("etl.segments.minhash.delete_ms", "ms"),
    ("etl.segments.minhash.maintain_ms", "ms"),
    ("etl.segments.minhash.serve_ms", "ms"),
    ("etl.segments.live_segments", "count"),
    ("etl.segments.mb_written", "MB"),
    ("etl.segments.mb_rewritten", "MB"),
    ("streaming.ingest_overhead_ms", "ms"),
    ("streaming.serve_jobs", "count"),
    ("streaming.candidates_per_hit", "ratio"),
]

# the sample series of each workload's nightly (write) and read operations
NIGHTLY, READ = "nightly_ms", "read_ms"
# the root spans of one nightly unit
NIGHTLY_ROOTS = {"etl_nightly": ("etl.run",),
                 "index_lifecycle": ("index.append", "index.delete",
                                     "index.cdc", "index.maintain",
                                     "index.serve")}


def end_to_end(workload, raw):
    """The gated metrics (BENCHMARK.json end_to_end) and the table of the
    workload's end-to-end metrics: name -> (value or None, unit, n)."""
    s, v = raw["samples"], raw["values"]

    def pct(series, q, scale=1.0):
        r = stats.percentile(s.get(series, []), q)
        # a high percentile needs at least 10 samples beyond it
        ok = r["n"] > 0 and (q <= 50 or r["beyond"] >= 10)
        return (r["value"] * scale if ok else None, r["n"])

    gated = {
        "setup_s": (statistics.median(s["setup_s"]), "s", len(s["setup_s"])),
        "nightly_ms": pct(NIGHTLY, 50)[:1] + ("ms", len(s[NIGHTLY])),
        "read_p50_ms": pct(READ, 50)[:1] + ("ms", len(s[READ])),
    }
    table = dict(gated)
    table["peak_rss_mb"] = (v["peak_rss_mb"], "MB", 1)
    table["error_rate"] = (raw["failed"] / max(1, raw["attempted"]),
                           "ratio", raw["attempted"])
    rows = {
        "etl_nightly": [("etl_wall_s", NIGHTLY, 50, 1e-3, "s"),
                        ("sql_p50_ms", READ, 50, 1, "ms"),
                        ("sql_p90_ms", READ, 90, 1, "ms")],
        "index_lifecycle": [
            ("append_p50_ms", "append_ms", 50, 1, "ms"),
            ("delete_p50_ms", "delete_ms", 50, 1, "ms"),
            ("maintain_p50_ms", "maintain_ms", 50, 1, "ms"),
            ("cdc_p50_ms", "cdc_ms", 50, 1, "ms"),
            ("serve_p50_ms", "serve_ms", 50, 1, "ms"),
            ("serve_p90_ms", "serve_ms", 90, 1, "ms")],
    }[workload]
    for name, series, q, scale, unit in rows:
        val, n = pct(series, q, scale)
        table[name] = (val, unit, n)
    if workload == "index_lifecycle":
        table["write_amp"] = (v["write_amp"], "ratio", len(s[NIGHTLY]))
        # space_amp costs a full rebuild write: traced runs measure it
        table["space_amp"] = (v.get("space_amp"), "ratio", 1)
    return gated, table


def self_by_layer(raw):
    """Self time (s) summed per span name over the traced operations."""
    spans = [dict(zip(("id", "parent", "op", "name", "start", "end"), x))
             for x in raw["spans"]]
    name = {sp["id"]: sp["name"] for sp in spans}
    out = {}
    for sp_id, us in stats.self_times(spans).items():
        out[name[sp_id]] = out.get(name[sp_id], 0) + us / 1e6
    return dict(sorted(out.items()))


def per_layer(workload, raw, names):
    """Per-layer metrics from the traced spans: name -> (value, unit).
    Spark and sources counts are per nightly unit, etl.sql ones per
    statement, etl.segments ones per operation of their type; a layer
    the workload does not reach reports 0."""
    s, v = raw["samples"], raw["values"]
    spans = [dict(zip(("id", "parent", "op", "name", "start", "end"), x))
             for x in raw["spans"]]
    by_id = {sp["id"]: sp for sp in spans}
    counts = {int(k): c for k, c in raw["counts"].items()}
    roots = [sp for sp in spans if sp["parent"] == 0]
    units = max(1, len(s.get(NIGHTLY, [])))
    stmts = max(1, len(s.get(READ, [])))

    def root_of(sp):
        while sp["parent"]:
            sp = by_id[sp["parent"]]
        return sp

    def nightly(sp):
        return root_of(sp)["name"] in NIGHTLY_ROOTS[workload]

    def total(field, pred):
        return sum(counts.get(sp["id"], {}).get(field, 0)
                   for sp in spans if pred(sp))

    def named(name):
        return lambda sp: sp["name"] == name

    def under(root_name):
        return lambda sp: root_of(sp)["name"] == root_name

    def dur(name):
        return sum(sp["end"] - sp["start"] for sp in spans
                   if sp["name"] == name)

    def n_ops(root_name):
        return max(1, sum(1 for r in roots if r["name"] == root_name))

    selfs = stats.self_times(spans)
    tasks = {}
    for span_id, a, b in raw["tasks"]:
        if span_id in by_id:
            tasks.setdefault(root_of(by_id[span_id])["id"], []).append((a, b))
    no_task_us = sum((r["end"] - r["start"]) - stats.union_length(
        tasks.get(r["id"], []), r["start"], r["end"])
        for r in roots if nightly(r))
    jobs = [(by_id[sp], site, a, b) for sp, site, a, b in raw["jobs"]
            if sp in by_id]
    writes = [(a, b, root_of(sp)["id"]) for sp, site, a, b in jobs
              if "Sources.scala" in site]
    write_us = sum(stats.union_length([(a, b) for a, b, r in writes
                                       if r == rid])
                   for rid in {r for _, _, r in writes})
    m = {
        "spark.jobs": total("jobs", nightly) / units,
        "spark.stages": total("stages", nightly) / units,
        "spark.tasks": total("tasks", nightly) / units,
        "spark.actions": total("actions", nightly) / units,
        "spark.no_task_ms": no_task_us / 1e3 / units,
        "spark.plan_ms": total("plan_ms", nightly) / units,
        "spark.task_run_s": total("run_ms", nightly) / 1e3 / units,
        "spark.task_cpu_s": total("cpu_ns", nightly) / 1e9 / units,
        "spark.task_deser_s": total("deser_ms", nightly) / 1e3 / units,
        "spark.gc_s": total("gc_ms", nightly) / 1e3 / units,
        "spark.shuffle_write_mb": total("shuffle_write_b", nightly)
        / 1e6 / units,
        "spark.shuffle_read_mb": total("shuffle_read_b", nightly)
        / 1e6 / units,
        "spark.spill_mb": total("spill_b", nightly) / 1e6 / units,
        "sources.extract_s": dur("sources.extract") / 1e6 / units,
        "sources.rows_read": total("records_read", nightly) / units,
        "sources.write_s": write_us / 1e6 / units,
        "sources.write_jobs": len(writes) / units,
        "sources.files_written": v.get("sources.files_written", 0) / units,
        "sources.mb_written": v.get("sources.mb_written", 0) / units,
    }
    if workload == "etl_nightly":
        read, tot = (total("files_read", under("etl.sql.stmt")),
                     total("files_total", under("etl.sql.stmt")))
        m.update({
            "etl.transform_s": sum(selfs[sp["id"]] for sp in spans
                                   if sp["name"] == "etl.pipeline")
            / 1e6 / units,
            "etl.resolve_ratio": v["etl.resolve_ratio"],
            "etl.validate_s": dur("etl.validate") / 1e6 / units,
            "etl.validate_jobs": sum(1 for _, site, _, _ in jobs
                                     if "Quality.scala" in site) / units,
            "etl.sql.plan_ms": dur("etl.sql.plan") / 1e3 / stmts,
            "etl.sql.exec_ms": dur("etl.sql.exec") / 1e3 / stmts,
            "etl.sql.jobs_per_stmt": total("jobs", under("etl.sql.stmt"))
            / stmts,
            "etl.sql.files_read_ratio": read / tot if tot else 0,
        })
    if workload == "index_lifecycle":
        for kind in ("append", "delete", "maintain", "cdc"):
            m[f"etl.segments.{kind}_jobs"] = total(
                "jobs", under(f"index.{kind}")) / n_ops(f"index.{kind}")
        for codec in ("sparse", "pq", "minhash"):
            for kind in ("append", "delete", "maintain", "serve"):
                m[f"etl.segments.{codec}.{kind}_ms"] = dur(
                    f"etl.segments.{codec}.{kind}") / 1e3 / n_ops(
                    f"index.{kind}")
        serves = n_ops("index.serve")
        hits = v.get("minhash_hits", 0)
        m.update({
            "etl.segments.read_plan_ms": dur("etl.segments.read") / 1e3
            / serves,
            "etl.segments.live_segments": v["etl.segments.live_segments"],
            "etl.segments.mb_written": v["etl.segments.mb_written"] / units,
            "etl.segments.mb_rewritten": v["etl.segments.mb_rewritten"]
            / units,
            "streaming.serve_plan_ms": total(
                "plan_ms", named("streaming.serve")) / serves,
            "streaming.serve_jobs": total(
                "jobs", named("streaming.serve")) / serves,
            "streaming.ingest_overhead_ms": sum(
                selfs[sp["id"]] for sp in spans
                if sp["name"] == "streaming.ingest") / 1e3
            / n_ops("index.append"),
            "streaming.candidates_per_hit":
                v.get("minhash_candidates", 0) / hits if hits else 0,
        })
    return {n: (m.get(n, 0), u) for n, u in names}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root (no engine sources here)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(root, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    classpath = build(root, work)
    t_build = time.time()
    d = inputs(work, PART[a.workload], a.seed)
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    cpus = len(os.sched_getaffinity(0))
    common = ["--workload", a.workload, "--inputs", d,
              "--cpus", str(cpus)]
    env = {k: x for k, x in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    args = common + ["--work", run_dir, "--out", out, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--script", os.path.join(HERE, "warehouse.sql")]
    def left():  # the run's deadline, not counting the build
        return DEADLINE_S - (time.time() - t_build)
    if a.workload == "index_lifecycle":
        args += ["--cache",
                 base_cache(work, d, classpath, common, left(), env)]
    code, _, _ = run_group(java(classpath, run_dir, args), root, left(),
                           env=env)
    if code != 0 or not os.path.exists(out):
        fail(f"perfbench.Main exited with {code}")
    with open(out) as f:
        raw = json.load(f)
    gated, table = end_to_end(a.workload, raw)
    last = os.path.join(work, f"untraced-{a.workload}-{a.seed}.json")
    for name, (val, unit, n) in table.items():
        shown = f"{val:.4f}" if val is not None else (
            "n/a (traced runs only)" if name == "space_amp" else
            "n/a (too few samples)")
        print(f"{a.workload} {name} = {shown} {unit} (n={n})")
    if a.trace == 0:
        metrics = {n: {"value": gated[n][0], "unit": gated[n][1]}
                   for n in (m["name"] for m in spec["end_to_end"])}
        with open(last, "w") as f:
            json.dump(metrics, f)
    else:
        layer = per_layer(a.workload, raw, LAYER_METRICS)
        for name, (val, unit) in layer.items():
            print(f"{a.workload} {name} = {val:.4f} {unit}")
        for name, secs in self_by_layer(raw).items():
            print(f"{a.workload} self_time.{name} = {secs:.4f} s "
                  "(all traced operations)")
        if os.path.exists(last):
            with open(last) as f:
                plain = json.load(f)
            for n, (val, unit, _) in gated.items():
                base = plain[n]["value"]
                print(f"{a.workload} trace.overhead.{n} = {val - base:+.4f} "
                      f"{unit} ({(val / base - 1) * 100:+.1f} % vs the "
                      f"untraced run of seed {a.seed})")
        else:
            print(f"{a.workload} trace.overhead = n/a (run --trace 0 with "
                  f"seed {a.seed} first)")
        metrics = {m["name"]: {"value": layer[m["name"]][0],
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
    for msg in raw["failures"]:
        print(f"{a.workload} CHECK FAILED {msg}")
    correct = raw["failed"] == 0 and raw["attempted"] > 0
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
