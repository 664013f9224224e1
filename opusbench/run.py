#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one measured window.

    python3 opusbench/run.py --workload ingest_mv --seed 7 --seconds 20 --trace 0

Builds the engine and the harness from source (sbt, offline) on first use,
generates the workload's inputs from the seed, runs them in one JVM on
local[N] (N = the CPUs this process may use), checks every result, writes
the full artifact to opusbench/results/ and prints a one-line JSON summary
as the last line of stdout. See opusbench/README.md.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from benchlib import gen, metrics  # noqa: E402

WORKLOADS = ("bank_txn", "ingest_mv", "olap_lanes")

HEAP = "3g"
ARCHIVE = HERE / "target" / "opusbench.jsa"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850

# Spark 4 on JDK 17 outside spark-submit (the engine's build.sbt uses the same)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[opusbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def declared():
    """BENCHMARK.json's end-to-end and per-layer metrics: name -> unit."""
    path = ROOT / "BENCHMARK.json"
    if not path.exists():
        die(f"{path} not found; run from a checkout of the repository")
    b = json.loads(path.read_text())
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def source_digest():
    """Digest of everything the build compiles: engine and harness."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src" / "main",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(cpus):
    """Compile engine + harness with the offline sbt setup and train the
    class-data sharing archive; returns the runtime classpath. Skipped
    when the sources are unchanged."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"engine sources not found under {ROOT / 'src' / 'main'}; "
            "run from a checkout of the repository")
    digest = source_digest()
    stamp = HERE / "target" / "opusbench.stamp"
    cp_file = HERE / "target" / "opusbench.classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip(), digest
    log("building engine and harness from source (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    lines = p.stdout.splitlines()
    cps = [ln for ln in lines if "opusbench_2.13" in ln and os.pathsep in ln]
    sys.stderr.write("\n".join(ln for ln in lines[-400:] if ln not in cps) + "\n")
    if p.returncode != 0 or not cps:
        die(f"build failed (sbt exit {p.returncode})")
    cp = cps[-1].strip()
    # Class-data sharing: one JVM loads every class the workloads use and
    # dumps them to an archive that each run then maps instead of loading
    # Spark from its jars again (a third less cold set-up time).
    log("training the class-data sharing archive")
    train = HERE / "work" / "train"
    shutil.rmtree(train, ignore_errors=True)
    for w in WORKLOADS:
        gen.write_inputs(w, 0, str(train / w / "input"))
    ARCHIVE.unlink(missing_ok=True)
    rc = java(cp, train, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], "opusbench.Train",
              [str(train), str(cpus), *WORKLOADS], time.time() + BUILD_LIMIT_S)
    if rc != 0 or not ARCHIVE.exists():
        sys.stderr.write((train / "jvm.log").read_text()[-8000:])
        die(f"class-data archive training failed (exit {rc})")
    shutil.rmtree(train)
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp, digest


def java(cp, work, flags, main, main_args, deadline):
    """Runs one JVM in `work` with its output in `work/jvm.log`; returns
    its exit code, or None when it is killed at `deadline`."""
    # no hsperfdata under /tmp: the run writes only inside the checkout
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", *flags, "-cp", cp, main, *main_args]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def batch_files(checkpoint, batch_ids):
    """File names of the given micro-batches, from the file source's log
    in the stream checkpoint (one JSON entry per file, with its batch)."""
    want, names = set(batch_ids), []
    for f in (Path(checkpoint) / "sources" / "0").iterdir():
        if f.name.startswith("."):  # checksum sidecars
            continue
        for line in f.read_text().splitlines()[1:]:
            e = json.loads(line)
            if e["batchId"] in want:
                names.append((e["batchId"], Path(e["path"]).name))
    return [n for _, n in sorted(set(names))]


def check_fact_table(work, applied):
    """ingest_mv gate: the fact table equals a last-writer-wins model of
    the base rows and every batch whose upsert committed."""
    import pandas as pd
    import pyarrow.parquet as pq
    inp = work / "input"
    parts = [pq.read_table(inp / "base.parquet")]
    for name in applied:
        parts.append(pq.read_table(inp / name if name == "warm.parquet"
                                   else inp / "batches" / name))
    model = pd.concat([t.to_pandas() for t in parts], ignore_index=True)
    model = (model.sort_values(["l_id", "seq"]).drop_duplicates("l_id", keep="last")
             .sort_values("l_id").reset_index(drop=True))
    fact = pq.read_table(work / "fact_final").to_pandas()
    fact = fact[list(model.columns)].sort_values("l_id").reset_index(drop=True)
    for df in (model, fact):
        df["l_shipdate"] = df["l_shipdate"].astype("datetime64[us]").astype("int64")
    if len(fact) != len(model):
        return f"fact has {len(fact)} rows, the model {len(model)}"
    for c in model.columns:
        bad = (fact[c] != model[c])
        if bad.any():
            i = int(bad.idxmax())
            return f"column {c} at l_id {model['l_id'][i]}: {fact[c][i]!r} != {model[c][i]!r}"
    return None


def check_lanes(work, lanes_dir):
    """olap_lanes gate: each lane's result equals its DuckDB twin over the
    same fixture, under the comparison rules of tools/oracle_check.py."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, str(ROOT / "tools"))
    import oracle_check
    con = duckdb.connect()
    for f in sorted((work / "input").glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    oracle = json.loads((Path(lanes_dir) / "oracle_sql.json").read_text())
    for name, sql in sorted(oracle.items()):
        spark = oracle_check.norm(pd.read_parquet(Path(lanes_dir) / name))
        status, detail = oracle_check.cmp(spark, oracle_check.norm(con.execute(sql).fetchdf()))
        if status != "OK":
            return f"{name}: {status} {detail}"
    return None


def cpu_ticks():
    """(steal, total) CPU ticks of this machine since boot, or None where
    /proc/stat is missing. Steal is the time the hypervisor gave this
    machine's CPUs to other guests."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return ticks[7], sum(ticks)


def steal_share(before, after):
    if not before or not after or after[1] <= before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def summary(correct, raw, values):
    line = {"correct": correct,
            "attempted": int(raw.get("attempted", 0)) if raw else 0,
            "failed": int(raw.get("failed", 0)) if raw else 0,
            "metrics": values}
    print(json.dumps(line, separators=(",", ":")), flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    end_to_end, per_layer = declared()
    t0 = time.time()
    load_start = os.getloadavg()[0]
    cpus = len(os.sched_getaffinity(0))
    cp, digest = build(cpus)
    deadline = time.time() + RUN_LIMIT_S
    work = HERE / "work" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    t_gen = time.time()
    gen.write_inputs(args.workload, args.seed, str(work / "input"))
    t_jvm = time.time()
    ticks_jvm = cpu_ticks()
    rc = java(cp, work, [f"-XX:SharedArchiveFile={ARCHIVE}"], "opusbench.Main",
              ["--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work", str(work), "--cpus", str(cpus)], deadline)
    t_check = time.time()
    steal = steal_share(ticks_jvm, cpu_ticks())
    raw_path = work / "raw.json"
    raw = json.loads(raw_path.read_text()) if raw_path.exists() else None
    if rc is None or raw is None or (rc != 0 and "gate" not in raw):
        why = "timed out" if rc is None else f"exit {rc}: {raw and raw.get('error')}"
        log(f"run failed ({why}); JVM log: {work / 'jvm.log'}")
        sys.stderr.write((work / "jvm.log").read_text()[-8000:])
        summary(False, raw, {})
        sys.exit(1)
    for e in raw["errors"]:
        log(e)
    gate = raw.get("gate")
    extra = {}
    if not gate and args.workload == "ingest_mv":
        import pyarrow.parquet as pq
        applied = batch_files(raw["values"]["checkpoint"],
                              raw["values"]["upserted_batches"])
        bad = check_fact_table(work, applied)
        if bad:
            gate = {"check": "ingest_mv.fact_equals_lww_model", "detail": bad}
        window = set(raw["values"]["window_batches"])
        names = batch_files(raw["values"]["checkpoint"], window)
        extra["writers"] = 1
        extra["rows_per_commit"] = gen.BATCH_ROWS
        extra["user_bytes"] = sum(
            pq.read_table(work / "input" / "batches" / n).nbytes for n in names)
    elif not gate and args.workload == "olap_lanes":
        bad = check_lanes(work, raw["values"]["lanes_dir"])
        if bad:
            gate = {"check": "olap_lanes.lane_equals_duckdb_twin", "detail": bad}
        extra["writers"] = 1
        extra["user_bytes"] = 0
    elif not gate:
        extra["writers"] = gen.WRITERS
        extra["user_bytes"] = 2 * 4 * 8 * len(raw["samples"].get("txn_ms", []))
    if gate:
        log(f"CORRECTNESS GATE FAILED: {gate['check']}: {gate['detail']}")
        summary(False, raw, {})
        sys.exit(1)

    e2e, detail = metrics.end_to_end(args.workload, raw, extra)
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "run_conditions": {
            "local_n": cpus,
            "load_avg_1m_start": load_start,
            "load_avg_1m_end": os.getloadavg()[0],
            "cpu_steal_share": steal,
            "git_commit": git_commit(),
            "source_digest": digest,
            "seconds": args.seconds,
        },
        "end_to_end": e2e,
        "end_to_end_detail": detail,
        "setup_s_all": raw["setup_s"],
        "setup_phases_ms": raw["setup_phases_ms"],
        "setup_counters": raw["setup_counters"],
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "errors": raw["errors"],
        "samples": raw["samples"],
        "counters": raw["counters"],
        "values": raw["values"],
    }
    results = HERE / "results"
    results.mkdir(exist_ok=True)
    if args.trace:
        layers = metrics.per_layer(args.workload, raw, extra)
        artifact["per_layer"] = layers
        artifact["spark_totals"] = raw.get("spark_totals", {})
        base = results / f"{args.workload}-s{args.seed}-t0.json"
        if base.exists():
            untraced = json.loads(base.read_text())["end_to_end"]
            artifact["tracing_overhead"] = {
                k: (v / untraced[k] - 1.0) if untraced.get(k) else None
                for k, v in e2e.items()}
        else:
            artifact["tracing_overhead"] = (
                "no untraced run of this workload and seed in opusbench/results")
        shown = {k: {"value": float(f"{layers.get(k, 0.0):.6g}"), "unit": u}
                 for k, u in per_layer.items()}
    else:
        shown = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}
    artifact["run_conditions"]["wall_s"] = time.time() - t0
    artifact["run_conditions"]["phases_s"] = {
        "build": t_gen - t0, "inputs": t_jvm - t_gen, "jvm": t_check - t_jvm,
        "checks_and_report": time.time() - t_check,
        "jvm_finish": raw.get("finish_ms", 0.0) / 1000.0}
    (results / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(artifact, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    summary(True, raw, shown)


if __name__ == "__main__":
    main()
