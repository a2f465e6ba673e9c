#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload wrangle --seed 1 --seconds 12 --trace 0

It builds the engine and the harness from source with sbt (once per
checkout), times the set-up in fresh JVMs, runs the harness JVM over the
corpus committed under perfbench/corpus, checks every member query's output
against DuckDB over its oracle SQL, and prints the metrics. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones of a traced run, which also writes a spans file under perfbench/.work.
The build writes sbt's target/ directories; everything else it writes
stays under perfbench/.work.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import analysis  # noqa: E402

WORK = BENCH / ".work"
# The engine's own sf0.01 test corpus (the one its DuckDB oracle gate runs
# on), read-only.
DATA = BENCH / "corpus" / "sf0.01"
# Fresh JVMs whose set-up is timed, the harness's own included; `setup_s`
# is their median. Each costs a run about 12 s on 4 cores.
SETUPS = 2
LAUNCH = BENCH / "target" / "launch.txt"
HEAP = "-Xmx3g"
RUN_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 780
MB = 1e6


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, log: Path, timeout: float, **kw) -> int:
    """Runs cmd in its own process group with output to log; on timeout, or
    when this process is told to stop, the whole group is killed. Returns
    the exit code, or None on timeout. Waits until the process has ended."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True, **kw)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            for s, h in handlers.items():
                signal.signal(s, h)


def digest(paths) -> str:
    h = hashlib.sha256()
    for root in paths:
        files = [root] if root.is_file() else sorted(p for p in root.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(BENCH.parent)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(repo: Path) -> list:
    """Compiles engine and harness when their sources changed; returns the
    java command prefix (options and classpath)."""
    sources = [repo / "build.sbt", repo / "project" / "build.properties", repo / "src" / "main",
               BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / "src"]
    stamp = digest(sources)
    stamp_file = WORK / "build.stamp"
    if not (LAUNCH.exists() and stamp_file.exists() and stamp_file.read_text() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = Path.home() / ".sbt" / "repositories"
        env.setdefault("SBT_OPTS", " ".join(
            ["-Dsbt.offline=true", "-Xmx2g"] +
            ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
             if repos.exists() else [])))
        tmp = WORK / "tmp"
        tmp.mkdir(exist_ok=True)
        env["SBT_OPTS"] += f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        log = WORK / "build.log"
        LAUNCH.unlink(missing_ok=True)
        code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"], log,
                        BUILD_TIMEOUT_S, cwd=BENCH, env=env)
        if code != 0 or not LAUNCH.exists():
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"build failed (exit {code}); log in {log}")
        stamp_file.write_text(stamp)
    cp, *opts = LAUNCH.read_text().splitlines()
    return ["java", *opts, HEAP, "-cp", cp]


def cpu_ticks() -> tuple:
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat.

    Steal is time the hypervisor gave this machine's virtual CPUs to other
    machines; it stretches wall time but not the JVM's CPU time.
    """
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields[:8])


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(java: list, plan: dict, out: Path, deadline: float) -> dict:
    shutil.rmtree(out, ignore_errors=True)
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    plan_file = out / "plan.txt"
    plan_file.write_text("".join(
        f"{k}={v}\n" for k, vs in plan.items() for v in (vs if isinstance(vs, list) else [vs])))
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    log = out / "harness.log"
    cmd = [*java, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "perfbench.Harness",
           str(plan_file), str(DATA), str(out)]
    code = run_proc(cmd, log, deadline - time.time(), cwd=out, env=env)
    if code != 0 or not (out / "raw.json").exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"harness failed (exit {code}); log in {log}")
    shutil.rmtree(tmp, ignore_errors=True)
    return json.loads((out / "raw.json").read_text())


def end_to_end(rec: dict) -> tuple:
    """The user-visible metrics of an untraced run, and notes about them.

    The bounded pass metric is CPU seconds of the JVM, not wall seconds: on
    a virtual machine whose CPUs the hypervisor lends to other machines
    (steal), the wall time of the same run doubles for minutes at a time
    while its CPU time grows by a fifth. It is the mean over the passes
    (their total over their count), so that JIT and GC work which lands in
    one pass or another cancels out. Wall time (`wall_s`, the same mean of
    the passes' wall seconds), per-query latency, the tail, memory and the
    steal share during the run are printed in the notes; a per-query figure
    is the median over the members of each member's median across the
    passes.
    """
    passes = rec["passes"]
    lat, cpu = {}, {}
    for p in passes:
        for q in p["queries"]:
            lat.setdefault(q["name"], []).append((q["t_done"] - q["t0"]) / 1e3)
            cpu.setdefault(q["name"], []).append(q["cpu1"] - q["cpu0"])

    def per_query_p50(samples):
        return analysis.median([analysis.median(v) for v in samples.values()])

    pooled = [x for v in lat.values() for x in v]
    tail_s, pct, beyond = analysis.tail(pooled)
    walls = [(p["t1"] - p["t0"]) / 1e3 for p in passes]
    metrics = {
        "cpu_s": (sum(p["cpu_s"] for p in passes) / len(passes), "s"),
        "setup_s": (analysis.median([x["setup_s"] for x in rec["setups"]]), "s"),
    }
    notes = {"passes": len(passes), "samples": len(pooled),
             "wall_s": sum(walls) / len(walls), "wall_min_s": min(walls),
             "setups_s": [x["setup_s"] for x in rec["setups"]],
             "query_p50_s": per_query_p50(lat), "query_cpu_p50_s": per_query_p50(cpu),
             "query_tail_s": tail_s, "tail_percentile": pct, "tail_beyond": beyond,
             "setup_cpu_s": analysis.median([x["setup_cpu_s"] for x in rec["setups"]]),
             "steal_share": rec["steal_share"],
             "peak_rss_mb": rec["peak_rss_mb"], "heap_retained_mb": rec["heap_retained_mb"]}
    return metrics, notes


def stream_totals() -> dict:
    return {"batches": 0, "trigger_ms": 0, "add_batch_ms": 0, "planning_ms": 0,
            "commit_ms": 0, "last_state": {}}


def add_batch(acc: dict, b: dict) -> None:
    acc["batches"] += 1
    for k in ("trigger_ms", "add_batch_ms", "planning_ms", "commit_ms"):
        acc[k] += b[k]
    # State rows: the state store size after each stream's last batch.
    acc["last_state"][b["run_id"]] = b["state_rows"]


def spans_and_layers(rec: dict) -> tuple:
    """Builds the span tree of a traced run and its per-layer metrics.

    Spans: run -> pass -> query -> build / plan / exec -> job and
    stream.batch. A job or micro-batch belongs to the phase that was
    running when it was submitted. Per-layer metrics are per traced pass
    (the median over traced passes), plus the direct layer probes.
    """
    spans = []

    def span(kind, name, start, end, parent, **attrs):
        spans.append(dict(id=len(spans), parent=parent, kind=kind, name=name,
                          start_ms=start, end_ms=end, **attrs))
        return len(spans) - 1

    passes = rec["passes"]
    run_id = span("run", "run", passes[0]["t0"], passes[-1]["t1"], None)
    jobs, batches = rec["jobs"], rec["batches"]
    probe = rec["probes"]["stream"]
    per_pass, walls = [], {True: [], False: []}
    for p in passes[1:]:  # the first pass of a traced run only warms up
        walls[p["traced"]].append((p["t1"] - p["t0"]) / 1e3)
        if not p["traced"]:
            continue
        pid = span("pass", "pass", p["t0"], p["t1"], run_id)
        phases = []
        residuals = []
        for q in p["queries"]:
            qid = span("query", q["name"], q["t0"], q["t_end"], pid, error=q.get("error"))
            # The phases the query entered; one that threw ends at the throw.
            marks = [q[k] for k in ("t0", "t_built", "t_planned") if k in q] + [q["t_done"]]
            for phase, start, end in zip(("build", "plan", "exec"), marks, marks[1:]):
                phases.append((start, end, span(phase, phase, start, end, qid)))
            residuals.append(q["t_end"] - q["t_done"])
        job_phase = analysis.assign([j["submit_ms"] for j in jobs], phases)
        batch_phase = analysis.assign([b["start_ms"] for b in batches], phases)
        children = {sid: [] for _, _, sid in phases}
        layer = {k: 0.0 for k in (
            "build.jobs", "exec.jobs", "exec.tasks", "exec.task_ms", "exec.shuffle_write",
            "exec.shuffle_read", "exec.spill", "exec.failed_tasks", "io.load_jobs")}
        for j, sid in zip(jobs, job_phase):
            if sid is None:
                continue
            end = j["end_ms"] if j["end_ms"] >= 0 else spans[sid]["end_ms"]
            span("job", f"job {j['id']}", j["submit_ms"], end, sid, tasks=j["tasks"])
            children[sid].append((j["submit_ms"], end))
            kind = spans[sid]["kind"]
            layer["io.load_jobs"] += j["load_call"]
            if kind == "build":
                layer["build.jobs"] += 1
            elif kind == "exec":
                layer["exec.jobs"] += 1
                layer["exec.tasks"] += j["tasks"]
                layer["exec.task_ms"] += j["task_ms"]
                layer["exec.shuffle_write"] += j["shuffle_write"]
                layer["exec.shuffle_read"] += j["shuffle_read"]
                layer["exec.spill"] += j["spill"]
                layer["exec.failed_tasks"] += j["failed_tasks"]
        stream = stream_totals()
        for b, sid in zip(batches, batch_phase):
            if sid is None:
                continue
            span("stream.batch", f"batch {b['batch_id']}", b["start_ms"],
                 b["start_ms"] + b["trigger_ms"], sid, run_id=b["run_id"])
            children[sid].append((b["start_ms"], b["start_ms"] + b["trigger_ms"]))
            add_batch(stream, b)
        dur = {k: 0.0 for k in ("build", "plan", "exec")}
        self_ms = {k: 0.0 for k in ("build", "exec")}
        for start, end, sid in phases:
            kind = spans[sid]["kind"]
            dur[kind] += end - start
            if kind in self_ms:
                self_ms[kind] += analysis.self_time(start, end, children[sid])
        per_pass.append(dict(
            dur=dur, self_ms=self_ms, layer=layer, stream=stream, gc_s=p["gc_s"],
            checkpoints=sum(q.get("checkpoints", 0) for q in p["queries"]),
            checkpoint_bytes=sum(q.get("checkpoint_bytes", 0) for q in p["queries"]),
            residual_s=sum(residuals) / 1e3, max_residual_ms=max(residuals)))

    # The stream probe, when the workload ran one: micro-batches inside its
    # window.
    probe_stream = stream_totals()
    if probe:
        probe_id = span("probe", probe["name"], probe["t0"], probe["t1"], run_id)
        for b in batches:
            if probe["t0"] <= b["start_ms"] + 1 and b["start_ms"] <= probe["t1"]:
                span("stream.batch", f"batch {b['batch_id']}", b["start_ms"],
                     b["start_ms"] + b["trigger_ms"], probe_id, run_id=b["run_id"])
                add_batch(probe_stream, b)

    def med(f):
        return analysis.median([f(x) for x in per_pass])

    def stream_val(key):
        return med(lambda x: x["stream"][key]) + probe_stream[key]

    def state_rows(s):
        return sum(s["last_state"].values())

    exec_s = med(lambda x: x["dur"]["exec"] / 1e3)
    task_s = med(lambda x: x["layer"]["exec.task_ms"] / 1e3)
    metrics = {
        "build.s": (med(lambda x: x["dur"]["build"] / 1e3), "s"),
        "build.self_s": (med(lambda x: x["self_ms"]["build"] / 1e3), "s"),
        "build.jobs": (med(lambda x: x["layer"]["build.jobs"]), "count"),
        "build.checkpoints": (med(lambda x: x["checkpoints"]), "count"),
        "build.checkpoint_mb": (med(lambda x: x["checkpoint_bytes"] / MB), "MB"),
        "io.load_jobs": (med(lambda x: x["layer"]["io.load_jobs"]), "count"),
        "io.load_s": (analysis.median(rec["probes"]["io_load_s"]), "s"),
        "plan.s": (med(lambda x: x["dur"]["plan"] / 1e3), "s"),
        "exec.s": (exec_s, "s"),
        "exec.self_s": (med(lambda x: x["self_ms"]["exec"] / 1e3), "s"),
        "exec.jobs": (med(lambda x: x["layer"]["exec.jobs"]), "count"),
        "exec.tasks": (med(lambda x: x["layer"]["exec.tasks"]), "count"),
        "exec.task_s": (task_s, "s"),
        "exec.cores_busy": (med(lambda x: x["layer"]["exec.task_ms"] / max(x["dur"]["exec"], 1e-9)),
                            "cores"),
        "exec.shuffle_write_mb": (med(lambda x: x["layer"]["exec.shuffle_write"] / MB), "MB"),
        "exec.shuffle_read_mb": (med(lambda x: x["layer"]["exec.shuffle_read"] / MB), "MB"),
        "exec.spill_mb": (med(lambda x: x["layer"]["exec.spill"] / MB), "MB"),
        "exec.failed_tasks": (med(lambda x: x["layer"]["exec.failed_tasks"]), "count"),
        "stream.batches": (stream_val("batches"), "count"),
        "stream.trigger_s": (stream_val("trigger_ms") / 1e3, "s"),
        "stream.add_batch_s": (stream_val("add_batch_ms") / 1e3, "s"),
        "stream.planning_s": (stream_val("planning_ms") / 1e3, "s"),
        "stream.commit_s": (stream_val("commit_ms") / 1e3, "s"),
        "stream.state_rows": (med(lambda x: state_rows(x["stream"])) + state_rows(probe_stream),
                              "count"),
        "transform.synth_s": (analysis.median(rec["probes"]["synth_s"]), "s"),
        "jvm.gc_s": (med(lambda x: x["gc_s"]), "s"),
        "jvm.peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "jvm.heap_retained_mb": (rec["heap_retained_mb"], "MB"),
        "trace.overhead_s": (analysis.median(walls[True]) - analysis.median(walls[False]), "s"),
        "trace.residual_s": (med(lambda x: x["residual_s"]), "s"),
    }
    counts = ["build.jobs", "exec.jobs", "exec.tasks", "exec.shuffle_write", "exec.shuffle_read",
              "io.load_jobs"]
    notes = {
        "traced_passes": len(per_pass),
        "untraced_passes": len(walls[False]),
        "max_query_residual_ms": max(x["max_residual_ms"] for x in per_pass),
        "counts": {k: ("exact" if len({x["layer"][k] for x in per_pass}) == 1 else "varying")
                   for k in counts},
    }
    notes["counts"]["build.checkpoints"] = (
        "exact" if len({x["checkpoints"] for x in per_pass}) == 1 else "varying")
    return spans, metrics, notes


def main() -> None:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    repo = Path.cwd().resolve()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"):
        if not (repo / need).exists():
            fail(f"run from the repository root: {need} not found")
    conf = json.loads((BENCH / "workloads.json").read_text())
    if a.workload not in conf["workloads"]:
        fail(f"unknown workload {a.workload!r}; known: {sorted(conf['workloads'])}")
    wl = conf["workloads"][a.workload]
    WORK.mkdir(exist_ok=True)

    java = build(repo)
    if a.trace:
        # One pass to warm up, then untraced and traced passes in the order
        # U T T U, so that a drift along the run (the JIT still warming)
        # cancels out of the tracing overhead.
        traced = [0, 0, 1, 1, 0]
    else:
        traced = [0] * max(2, round(a.seconds / wl["pass_s"]))
    n_pass = len(traced)
    plan = {
        "traced": ",".join(map(str, traced)), "cores": cores(),
        "warmup": ",".join(conf["warmup"]), "members": ",".join(wl["members"]),
        "tables": ",".join(wl["tables"]),
        # The stream probe runs only where no member drains a stream itself,
        # so that stream.* stays a per-pass figure where one does.
        "stream_probe": "" if any(m.startswith("streaming_") for m in wl["members"])
        else conf["stream_probe"],
        "pass": [",".join(o) for o in analysis.pass_orders(wl["members"], a.seed, n_pass)],
    }
    out = WORK / f"run-{a.workload}-{a.seed}-{a.trace}"
    steal0, total0 = cpu_ticks()
    t_harness = time.time()
    deadline = t_harness + RUN_TIMEOUT_S
    setups = []
    for i in range(1, SETUPS):
        setup_out = out.with_name(f"{out.name}-setup{i}")
        setups.append(run_harness(java, dict(plan, setup_only=1), setup_out, deadline))
        shutil.rmtree(setup_out)
    rec = run_harness(java, plan, out, deadline)
    setups.append(rec)
    rec["setups"] = [{k: r[k] for k in ("setup_s", "setup_cpu_s")} for r in setups]
    t_check = time.time()
    steal1, total1 = cpu_ticks()
    rec["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    import check
    verdicts = check.check_outputs(repo, DATA, out, rec)
    print(f"set-ups and harness {t_check - t_harness:.1f} s, "
          f"oracle check {time.time() - t_check:.1f} s")
    shutil.rmtree(out / "check", ignore_errors=True)
    timed = [q for p in rec["passes"] for q in p["queries"]]
    threw = [q for q in timed if "error" in q]
    wrong = {k: v for k, v in verdicts.items() if v}
    attempted = len(timed) + len(verdicts)
    failed = len(threw) + len(wrong)
    for q in threw:
        print(f"query {q['name']} failed in {q['error']}")
    for k, v in sorted(wrong.items()):
        print(f"check {k}: {v}")
    print(f"workload {a.workload}: {len(wl['members'])} queries, {len(rec['passes'])} passes, "
          f"seed {a.seed}, output check {len(verdicts) - len(wrong)}/{len(verdicts)} correct")
    print(f"failed_frac = {failed / attempted:.6g} ratio ({failed} of {attempted} executions)")

    if a.trace:
        spans, metrics, notes = spans_and_layers(rec)
        spans_file = WORK / f"spans-{a.workload}-{a.seed}.json"
        spans_file.write_text(json.dumps({"workload": a.workload, "seed": a.seed,
                                          "notes": notes, "spans": spans}))
        print(f"spans: {len(spans)} in {spans_file.relative_to(repo)}")
        print(f"notes: {json.dumps(notes)}")
    else:
        metrics, notes = end_to_end(rec)
        print(f"notes: {json.dumps(notes)}")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
