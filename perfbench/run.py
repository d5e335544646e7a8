#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds the program and the harness from
source (once per checkout; later runs reuse the build while the sources are
unchanged), generates the workload's inputs from the seed, runs the harness
JVM, and prints as its last stdout line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
Everything it writes goes under ``perfbench/.work`` and the sbt ``target``
directories. See ``perfbench/README.md``.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CLASSPATH = HERE / "target" / "classpath.txt"
ORACLE = HERE / "target" / "oracle.json"
STAMP = HERE / "target" / "source.stamp"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp() -> str:
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt, unless the current
    sources were already built in this checkout."""
    want = stamp()
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == want:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = WORK / "build.log"
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not CLASSPATH.is_file():
        fail(f"build failed (exit {p.returncode}); see {log}")
    # the program's DuckDB oracle SQL for every benchmarked row
    rows = sorted({r for w in CONFIG["workloads"].values() for r in w["rows"]})
    subprocess.run(["java", "-cp", CLASSPATH.read_text().strip(), "perfbench.OracleSql",
                    ",".join(rows), str(ORACLE)], check=True, timeout=120)
    STAMP.write_text(want)


def gen_inputs(kind: str, seed: int, params: dict) -> Path:
    """Generate (or reuse) the inputs for one parameter set and seed."""
    args = [f"--{k.replace('_', '-')}={v}" for k, v in sorted(params.items())
            if k not in ("kind", "data_seed")]
    key = hashlib.sha256(json.dumps([kind, seed, args]).encode()).hexdigest()[:16]
    out = WORK / "inputs" / f"{kind}-{seed}-{key}"
    if not (out / ".done").is_file():
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, str(HERE / "gen.py"), kind, str(out), f"--seed={seed}"] + args,
                       check=True, timeout=120)
        (out / ".done").write_text("")
    return out


def oracle_digests(inputs: Path, rows) -> dict:
    """Row count and digest of each of `rows` that has oracle SQL, computed
    by DuckDB over the generated inputs (cached next to them)."""
    oracle = json.dumps({r: q for r, q in json.loads(ORACLE.read_text()).items() if r in rows})
    cache = inputs / f".oracle-{hashlib.sha256(oracle.encode()).hexdigest()[:16]}.json"
    if cache.is_file():
        return json.loads(cache.read_text())
    import duckdb
    from digest import digest
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = inputs / f"{t}.parquet"
        if p.exists():
            src = f"{p}/*.parquet" if p.is_dir() else str(p)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    out = {}
    for row, sql in json.loads(oracle).items():
        cur = con.execute(sql)
        n, d = digest([c[0] for c in cur.description], cur.fetchall())
        out[row] = {"rows": n, "digest": d}
    cache.write_text(json.dumps(out))
    return out


def expected_digests(workload: str, seed: int, inputs: Path) -> dict:
    """The digests every op is checked against: the stored ones (for every
    seed when the workload's data is fixed, else for their seed only),
    overridden by DuckDB's oracle result where the row has one."""
    ops = {}
    stored = HERE / "expected" / f"{workload}.json"
    if stored.is_file():
        j = json.loads(stored.read_text())
        if j["seed"] in (None, seed):
            ops = j["ops"]
    for row, want in oracle_digests(inputs, CONFIG["workloads"][workload]["rows"]).items():
        if row in ops and ops[row] != want:
            print(f"perfbench: stored digest of {row} differs from DuckDB's; using DuckDB's",
                  file=sys.stderr)
        ops[row] = want
    return ops


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(argv, log: Path):
    cp = CLASSPATH.read_text().strip()
    heap = CONFIG["session"]["heap"]
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main"] + argv
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness did not finish within {JVM_TIMEOUT_S} s; see {log}")


def write_expected(workload: str, seed: int, inp: dict, run_dir: Path, trace: int):
    """Keep a run's digests as the expected ones: for every seed when the
    workload's data is fixed (`data_seed`), else for this seed only."""
    ops = json.loads((run_dir / f"digests-{workload}-seed{seed}-trace{trace}.json").read_text())
    ops = {o["row"]: {"rows": o["rows"], "digest": o["digest"]} for o in ops
           if o["corpus"] != "warmup"}
    out = {"seed": None if "data_seed" in inp else seed, "ops": ops}
    (HERE / "expected" / f"{workload}.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="store this run's per-op digests as the workload's expected digests")
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources at {ROOT} (build.sbt, src/main/scala)")
    if a.workload not in CONFIG["workloads"]:
        fail(f"unknown workload {a.workload!r}; known: {sorted(CONFIG['workloads'])}")
    load_start = os.getloadavg()[0]
    WORK.mkdir(parents=True, exist_ok=True)
    build()
    wl = CONFIG["workloads"][a.workload]
    inp = wl["inputs"]
    # fixed-data workloads pin their data seed; the run seed then drives
    # only the request order
    inputs = gen_inputs(inp["kind"], inp.get("data_seed", a.seed), inp)
    warm = wl.get("warmup_inputs")
    warm_inputs = gen_inputs(warm["kind"], 0, warm) if warm else inputs
    run_dir = WORK / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    result_file = run_dir / "result.json"
    expected = run_dir / "expected.json"
    expected.write_text(json.dumps({"seed": None, "ops": {} if a.write_expected
                                    else expected_digests(a.workload, a.seed, inputs)}))
    code = run_jvm([a.workload, str(a.seed), str(a.seconds), str(a.trace), str(inputs),
                    str(warm_inputs), str(run_dir), str(cpus()), str(HERE / "workloads.json"),
                    str(expected), str(result_file)],
                   run_dir / "harness.log")
    if code != 0 or not result_file.is_file():
        fail(f"harness exited with {code}; see {run_dir / 'harness.log'}")
    res = json.loads(result_file.read_text())
    # keep the run's digests, spans and log; drop its input copies and scratch
    shutil.rmtree(run_dir / a.workload, ignore_errors=True)
    shutil.rmtree(run_dir / "spark-local", ignore_errors=True)
    shutil.rmtree(WORK / "tmp", ignore_errors=True)
    if a.write_expected and res["correct"]:
        write_expected(a.workload, a.seed, inp, run_dir, a.trace)
    info = dict(res["info"], load1_run_start=load_start, load1_run_end=os.getloadavg()[0],
                run_dir=str(run_dir.relative_to(ROOT)))
    print(json.dumps({"info": info}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


CONFIG = json.loads((HERE / "workloads.json").read_text())

if __name__ == "__main__":
    main()
