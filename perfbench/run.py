#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. It builds the engine and the
harness from source with sbt (once per checkout; later runs reuse the
build while no source changed), makes the workload's inputs from the seed,
runs one JVM (`perfbench.Main`), checks the outputs outside the timed
region, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. Everything it writes stays under
`perfbench/work/`: the run record, the span trace, the per-row or
per-template layer table and the build log.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
sys.path.insert(0, str(HERE))

import gen_tables  # noqa: E402
import oracle  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text()) \
    if (ROOT / "BENCHMARK.json").exists() else None
RUN_BUDGET_S = 175
BUILD_BUDGET_S = 840
# A fixed heap (initial = maximum): the full collections of the heap
# checkpoints would otherwise shrink it, and each run would regrow it by
# its own path during the timed region.
HEAP = "2g"
# The JVM flags the engine's own build gives every forked run: the
# module opens Spark needs on JDK 17 and the session defaults.
JAVA_OPTS = [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return (runtime classpath,
    whether this call built)."""
    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("engine sources (build.sbt, src/main/scala/graft) not found "
            f"under {ROOT}; run from the root of a source checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    WORK.mkdir(parents=True, exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and \
            stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = WORK / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_BUDGET_S).returncode
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
    lines = log.read_text().strip().splitlines()
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (exit {rc}); see {log}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp, True


def run_jvm(cp, args, run_dir, deadline):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", *JAVA_OPTS,
           "-cp", cp, "perfbench.Main", *args]
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded its time budget; see {run_dir / 'jvm.log'}")
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        die(f"JVM exited {rc}; log tail:\n{tail}")


def cpu_steal_s():
    """Seconds of CPU time the hypervisor gave to other guests since boot
    (the `steal` column of /proc/stat), or None where it is not shown."""
    try:
        fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def layer_table(record):
    """Markdown per-row (batch) or per-template (serve) layer table."""
    info = record.get("info", {})
    rows = info.get("rows_table") or info.get("templates_table") or []
    if not rows:
        return ""
    cols = [c for c in ("row", "template", "wall_s", "eager_s", "eager_jobs",
                        "catalyst_ms", "task_run_ms", "task_cpu_ms",
                        "codegen_classes", "jobs", "stream_batches", "misses",
                        "p50_ms", "p90_ms", "parse_ms", "compose_ms",
                        "write_ms", "out_kb", "plans")
            if any(c in r for r in rows)]
    out = ["| " + " | ".join(cols) + " |", "|" + "---|" * len(cols)]
    for r in rows:
        cells = []
        for c in cols:
            v = r.get(c, "")
            if isinstance(v, float):
                v = f"{v:.3f}"
            elif isinstance(v, list):
                v = ",".join(map(str, v))
            cells.append(str(v))
        out.append("| " + " | ".join(cells) + " |")
    return "\n".join(out) + "\n"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if BENCH is None:
        die("BENCHMARK.json not found at the checkout root")
    names = [w["name"] for w in BENCH["workloads"]]
    if a.workload not in names:
        die(f"unknown workload {a.workload}; choose from {names}")
    t_start = time.time()
    cp, built = build()
    # a run that had to build first gets its full budget after the build
    deadline = (time.time() if built else t_start) + RUN_BUDGET_S

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = WORK / "runs" / tag
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    data_dir, gen_s = "", 0.0
    if a.workload != "openeo_serve":
        data_dir = run_dir / "data"
        t0 = time.perf_counter()
        gen_tables.generate(str(data_dir), a.seed)
        gen_s = time.perf_counter() - t0
    steal0, t0 = cpu_steal_s(), time.perf_counter()
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--work", str(run_dir), "--data", str(data_dir),
                 "--generate-s", repr(gen_s)], run_dir, deadline)
    steal1, jvm_s = cpu_steal_s(), time.perf_counter() - t0
    record = json.loads((run_dir / "record.json").read_text())
    # host noise: CPU time stolen by other guests while the JVM ran
    record["meta"]["jvm_wall_s"] = jvm_s
    if steal0 is not None and steal1 is not None:
        record["meta"]["cpu_steal_s"] = steal1 - steal0
    failures = list(record["failures"])
    checked = record["info"].get("checked_outputs", 0)
    if a.workload != "openeo_serve":
        results = oracle.check(str(data_dir), str(run_dir / "check"))
        checked = len(results)
        failures += [{"op": k, "phase": "oracle check", "cause": v}
                     for k, v in sorted(results.items())
                     if not v.startswith(("OK", "NO-ORACLE"))]
        record["oracle"] = results
    attempted = int(record["attempted"])
    failed = len(failures)
    m = record["metrics"]
    m["ok_ratio"] = 1.0 - failed / max(1, attempted)
    record["failed"] = failed
    record["all_failures"] = failures
    record["failed_ratio"] = failed / max(1, attempted)
    section = "per_layer" if a.trace else "end_to_end"
    out = {}
    for spec in BENCH[section]:
        # a layer the workload does not run reports 0 (so does an empty
        # sample, e.g. the hit latency of a run without cache hits)
        v = m.get(spec["name"], 0.0)
        v = float(v) if isinstance(v, (int, float)) else 0.0
        out[spec["name"]] = {"value": v if math.isfinite(v) else 0.0,
                             "unit": spec["unit"]}
    keep = WORK / "records"
    keep.mkdir(parents=True, exist_ok=True)
    (keep / f"{tag}.json").write_text(json.dumps(record, indent=1))
    table = layer_table(record)
    if table:
        (keep / f"{tag}-layers.md").write_text(table)
    if (run_dir / "spans.json").exists():
        shutil.copy(run_dir / "spans.json", keep / f"{tag}-spans.json")
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)
    shutil.rmtree(run_dir / "data", ignore_errors=True)
    for f in failures:
        print(f"FAILED {f['op']} [{f['phase']}]: {f['cause']}")
    meta = record["meta"]
    print(f"run {tag}: nproc={meta['nproc']} master={meta['master']} "
          f"conf={meta['conf_digest'][:12]} attempted={attempted} "
          f"failed={failed} checked={checked} "
          f"cal={record['info'].get('cal_pre')}/{record['info'].get('cal_post')} "
          f"steal={meta.get('cpu_steal_s')}")
    for k, v in out.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
