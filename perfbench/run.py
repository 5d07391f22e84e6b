"""Benchmark runner: builds the program and its harness from the checkout,
generates a workload's inputs from the seed, times set-up and jobs in
fresh JVMs, checks every job's output against the generator's expected
values, and prints one JSON result as the last line of stdout.

    python3 perfbench/run.py --workload csv_ingest --seed 1 --seconds 10 --trace 0

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
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
import checks  # noqa: E402
import stats  # noqa: E402

WORKLOADS = tuple(gen.GENERATORS)
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "classpath.txt")
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn512m"]
# Each run starts one probe JVM before the measuring JVM. The probe gives a
# second setup_s sample and, where COLD_PROBE is set, also runs the cold job
# for a second first_job_s sample. jdbc_roundtrip's cold job is the shortest
# (about 5 s), so the host's speed changes over seconds spread it most, and
# it is the only one cheap enough to repeat within the time limit for all
# runs; see perfbench/README.md.
COLD_PROBE = {"csv_ingest": False, "jdbc_roundtrip": True, "curation": False}
RUN_LIMIT_S = 170       # a run must end within 180 s once built

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = [("setup_s", "s"), ("first_job_s", "s"), ("records_per_s", "1/s"),
              ("output_bytes_per_record", "B"), ("peak_rss_mb", "MB"),
              ("ok_frac", "frac")]

PER_LAYER = [
    ("infer.cast_s", "s"), ("infer.sample_s", "s"),
    ("validate.check_s", "s"), ("validate.quarantine_s", "s"),
    ("validate.rejected_rows", "count"),
    ("transform.compile_s", "s"), ("transform.eval_s", "s"),
    ("transform.filtered_rows", "count"),
    ("engine.plan_s", "s"), ("engine.spark_jobs", "count"),
    ("sources.read_s", "s"), ("sources.write_s", "s"),
    ("sources.bytes_written", "B"), ("sources.files_written", "count"),
    ("sources.jdbc_write_s", "s"), ("sources.jdbc_write_busy_frac", "frac"),
    ("sources.jdbc_read_s", "s"), ("sources.jdbc_read_tasks", "count"),
    ("llm.langid_train_s", "s"), ("llm.pipeline_s", "s"),
    ("llm.shard_write_s", "s"),
] + [(f"llm.survivors.{s}", "count") for s in checks.CURATION_STAGES] + [
    ("spark.executor_busy_frac", "frac"), ("spark.tasks", "count"),
    ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("trace.job_wall_s", "s"), ("trace.covered_frac", "frac"),
    ("trace.attribution_gap_frac", "frac"), ("trace.overhead_frac", "frac"),
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_newer_than(stamp):
    """True when a build input changed after the recorded classpath."""
    t = os.path.getmtime(stamp)
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files.extend(os.path.join(d, n) for n in names)
    return any(os.path.getmtime(f) > t for f in files if os.path.exists(f))


def build():
    """Compiles the program and the harness with sbt (offline) and records
    the runtime classpath; skipped when nothing changed since."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: no program sources next to perfbench/ "
                         "(expected build.sbt and src/main at the checkout root)")
    if os.path.exists(CLASSPATH_FILE) and not sources_newer_than(CLASSPATH_FILE):
        return open(CLASSPATH_FILE).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=880)
    lines = [l for l in p.stdout.splitlines()
             if "perfbench" in l and "classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def jvm(cp, run_dir, args, deadline):
    """Runs one harness JVM in `run_dir` and waits for it; returns its
    result.json. The process is killed (with its group) at `deadline`."""
    os.makedirs(run_dir, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", *HEAP, f"-Djava.io.tmpdir={tmp}", *ADD_OPENS, "-cp", cp,
            "perfbench.Harness", "--dir", run_dir,
            "--launch-ns", str(time.time_ns())] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("perfbench: harness timed out")
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    with open(result) as f:
        return json.load(f)


def clean(run_dir):
    """Removes the run's inputs and outputs; its records and logs stay."""
    for name in os.listdir(run_dir):
        if name not in ("result.json", "run.json", "expected.json", "jvm.log"):
            p = os.path.join(run_dir, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[7], sum(t)


def warm_walls(jobs):
    return [j["wall_s"] for j in jobs if j["phase"] == "warm" and not j["traced"]]


def end_to_end(expected, setups, colds, res, outcomes, job_dir):
    jobs = res["jobs"]
    warm = warm_walls(jobs)
    records = expected["records"]
    _, _, ok_frac = stats.failure_accounting(outcomes)
    out_bytes, _ = checks.disk_usage(job_dir(jobs[-1]["job"]))
    return {
        "setup_s": stats.median(setups),
        "first_job_s": stats.median(colds),
        "records_per_s": records / stats.median(warm),
        "output_bytes_per_record": out_bytes / records,
        "peak_rss_mb": res["rss_hwm_kb"] / 1024.0,
        "ok_frac": ok_frac,
    }


def per_layer(workload, expected, res, job_dir):
    jobs = res["jobs"]
    traced = [j for j in jobs if j["traced"]]
    untraced_warm = warm_walls(jobs)
    by_job = stats.job_spans(res["spans"])
    counters = res["counters"]
    rows = []
    for j in traced:
        i = j["job"]
        d = by_job[i]
        m = stats.layer_times(workload, d)
        c = lambda k, default=0.0: counters.get(f"{i}/{k}", default)
        m["engine.spark_jobs"] = c("execute.jobs")
        m["spark.executor_busy_frac"] = c("execute.busy_frac")
        m["spark.tasks"] = c("execute.tasks")
        m["spark.gc_s"] = c("execute.gc_s")
        m["spark.shuffle_write_bytes"] = c("execute.shuffle_write_bytes")
        m["spark.spill_bytes"] = c("execute.spill_bytes")
        m["sources.jdbc_write_busy_frac"] = c("jdbc_write.busy_frac")
        m["sources.jdbc_read_tasks"] = c("jdbc_read_tasks")
        for s in checks.CURATION_STAGES:
            m[f"llm.survivors.{s}"] = c(f"survivors.{s}")
        m["sources.bytes_written"], m["sources.files_written"] = \
            checks.disk_usage(job_dir(i))
        info = j["info"]
        if workload == "csv_ingest":
            m["validate.rejected_rows"] = info["rejected_rows"]
            m["transform.filtered_rows"] = (expected["records"]
                                            - info["rejected_rows"] - info["rows"])
        m["trace.covered_frac"] = stats.covered_frac(res["spans"], i)
        m["trace.attribution_gap_frac"] = stats.attribution_gap(workload, d)
        product = sum(d.get(k, 0.0) for k in stats.PRODUCT_SPANS[workload])
        m["trace.overhead_frac"] = product / stats.median(untraced_warm) - 1.0
        rows.append(m)
    med = stats.median_by_key(rows)
    gap = med["trace.attribution_gap_frac"]
    if abs(gap) > stats.ATTRIBUTION_TOLERANCE:
        raise SystemExit(f"perfbench: the layer times do not account for the "
                         f"product job (gap {gap:+.2f}, tolerance "
                         f"{stats.ATTRIBUTION_TOLERANCE})")
    log(f"attribution gap {gap:+.3f}")
    med["trace.attribution_gap_frac"] = abs(gap)
    return {name: med.get(name, 0.0) for name, _ in PER_LAYER}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    cp = build()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    run_dir = os.path.join(BUILD_DIR, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env_info = {"nproc": os.cpu_count(), "heap": " ".join(HEAP),
                "loadavg_1m_start": loadavg()}
    ticks0 = cpu_ticks()

    expected = gen.generate(a.workload, a.seed, run_dir)
    if a.workload == "curation":
        shutil.copy(os.path.join(HERE, "jobs", "pretrain_curation.yaml"), run_dir)

    # the probe reads the inputs in run_dir and keeps its outputs and Derby
    # database in a directory of its own
    probe_dir = os.path.join(run_dir, "probe")
    cold = COLD_PROBE[a.workload]
    probe = jvm(cp, probe_dir, ["--mode", "cold" if cold else "setup",
                                "--workload", a.workload, "--inputs", run_dir],
                deadline)
    res = jvm(cp, run_dir, ["--mode", "run", "--workload", a.workload,
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
              deadline)
    setups = [probe["setup_s"], res["setup_s"]]
    colds = [r["jobs"][0]["wall_s"] for r in ([probe] if cold else []) + [res]]

    job_dir = lambda i: os.path.join(run_dir, "out", f"job-{i}")
    outcomes = []
    checked = [(os.path.join(probe_dir, "out", "job-0"), probe["jobs"][0])] if cold else []
    checked += [(job_dir(j["job"]), j) for j in res["jobs"]]
    for out, j in checked:
        problems = checks.check(a.workload, expected, out, j["info"])
        if problems:
            log(f"{os.path.relpath(out, run_dir)} failed its check: "
                f"{'; '.join(problems)}")
        outcomes.append(not problems)
    attempted, failed, _ = stats.failure_accounting(outcomes)

    if a.trace:
        values = per_layer(a.workload, expected, res, job_dir)
        units = dict(PER_LAYER)
    else:
        values = end_to_end(expected, setups, colds, res, outcomes, job_dir)
        units = dict(END_TO_END)
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    env_info.update(loadavg_1m_end=loadavg(), cpu_steal_frac=steal / max(total, 1),
                    cores_seen_by_jvm=res["cores"],
                    max_heap_mb=res["max_heap_mb"], setup_samples=setups,
                    first_job_samples=colds,
                    job_walls_s=[j["wall_s"] for j in res["jobs"]],
                    run_s=round(time.time() - t_start, 1))
    walls = warm_walls(res["jobs"])
    p = stats.highest_percentile(len(walls))
    log(f"warm jobs: n={len(walls)} median={stats.median(walls):.3f}s"
        + (f" p{p}={stats.percentile(walls, p):.3f}s" if p else
           " (too few samples for a tail percentile)"))
    with open(os.path.join(run_dir, "run.json"), "w") as f:
        json.dump({"env": env_info, "metrics": values}, f, indent=1)
    clean(run_dir)

    print(json.dumps({"env": env_info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
