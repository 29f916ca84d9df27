#!/usr/bin/env python3
"""Benchmark entry point for the gentropyspark library.

Run from the root of a checkout:

    python3 perfbench/run.py --workload gwas_chain --seed 1 --seconds 8 --trace 0

Workloads: gwas_chain, catalog_small, corpus_dedup (see perfbench/README.md).
The first run in a checkout compiles the library and the benchmark with sbt
into .bench_build/; later runs reuse that build while the sources are
unchanged. Each run starts one JVM, sets up its inputs from the seed, times
passes for --seconds, checks every output and prints, as its last stdout
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.

Extra options, not used by the benchmark contract:
    --size tiny      small inputs, for perfbench/selftest.py
    --queries all    catalog_small runs every catalog query (about 4 minutes)
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
DEADLINE_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# End-to-end metrics under the names a reader of one workload expects;
# the JSON carries the workload-independent names.
ALIASES = {
    "catalog_small": {},
    "gwas_chain": {"rows_per_s": "variants_per_s"},
    "corpus_dedup": {"rows_per_s": "docs_per_s"},
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files(root):
    """Every file the build reads, in a stable order."""
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    env["COURSIER_MODE"] = "offline"
    return env


def build(root, fp):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = os.path.join(root, BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("fingerprint") == fp:
            return saved["classpath"]
    log("building library + benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=500)
    lines = proc.stdout.splitlines()
    cp = [ln.strip() for ln in lines if "scala-2.13/classes" in ln and ":" in ln]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: sbt build failed")
    log(f"built in {time.time() - t0:.1f} s")
    # the class-data archive (see main) takes classes from jars only
    classes, rest = cp[-1].split(":", 1)
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    jar = os.path.join(root, BUILD, "perfbench.jar")
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    for old in glob.glob(os.path.join(root, BUILD, "classes-*")):
        os.remove(old)
    classpath = f"{jar}:{rest}"
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    proc = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                          capture_output=True, text=True)
    return proc.stdout.strip() or "unknown"


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
    return v


def sorted_rows(con, sql):
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    rows = con.sql("SELECT " + ", ".join(f'"{c}"' for c in cols)
                   + f" FROM ({sql})").fetchall()
    key = lambda r: tuple((v is None, str(type(v)), v if v is not None else 0) for v in r)
    return cols, sorted((tuple(canon(v) for v in r) for r in rows), key=key)


def duck_compare(checks):
    """Compare each output with its DuckDB oracle: columns sorted by name,
    rows sorted, values equal after -0.0 and NaN normalisation. Returns a
    failure message per failed op."""
    if not checks:
        return {}
    import duckdb
    failures = {}
    cons = {}
    for c in checks:
        con = cons.get(c["tables"])
        if con is None:
            con = cons[c["tables"]] = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{c['tables']}/{t}.parquet/*.parquet'")
        try:
            got_cols, got = sorted_rows(con, f"SELECT * FROM '{c['got']}/*.parquet'")
            want_cols, want = sorted_rows(con, c["sql"])
        except Exception as e:  # noqa: BLE001 - any engine error fails the op
            failures[c["op"]] = f"duckdb: {e}"
            continue
        if got_cols != want_cols:
            failures[c["op"]] = f"columns {got_cols} != {want_cols}"
        elif got != want:
            bad = sum(1 for a, b in zip(got, want) if a != b) + abs(len(got) - len(want))
            failures[c["op"]] = f"{bad} rows differ from the oracle ({len(got)} vs {len(want)})"
    return failures


def stop(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["gwas_chain", "catalog_small", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--queries", choices=["sample", "all"], default="sample")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: run from the root of a gentropyspark checkout "
                         "(src/main/scala not found)")
    fp = fingerprint(root)
    cp = build(root, fp)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    results = os.path.join(root, BUILD, "results")
    work = os.path.join(root, BUILD, "run", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    result_file = os.path.join(results, f"{tag}.json")
    if os.path.exists(result_file):
        os.remove(result_file)

    # Class-data sharing: the first run after a build archives every class
    # it loads; later runs map them from the archive instead of loading them,
    # which takes a few seconds off the cold set-up. Should the JVM fail
    # while writing or reading the archive, the run is repeated without it
    # and later runs do without.
    jsa = os.path.join(root, BUILD, f"classes-{fp}.jsa")
    if os.path.isfile(jsa):
        cds, flags = "used", [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds*=off"]
    elif os.path.exists(jsa + ".failed"):
        cds, flags = "none", []
    else:
        cds, flags = "written", [f"-XX:ArchiveClassesAtExit={jsa}.tmp", "-Xlog:cds*=off"]
    tries = [flags, []] if flags else [[]]
    heap = "2g"
    args = ([x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Xms{heap}", f"-Xmx{heap}", "-XX:-DontCompileHugeMethods",
               f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC", f"-Dspark.driver.memory={heap}",
               "-cp", cp, "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", a.trace, "--work", work, "--result", result_file,
               "--corpus", os.path.join(HERE, "corpus", "sf0.001"),
               "--size", a.size, "--queries", a.queries, "--source-digest", fp])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    # the first run after a build may take longer, so it may run twice
    deadline = time.time() + DEADLINE_S * (2 if cds == "written" else 1)
    for i, flags in enumerate(tries):
        t_start = time.time()
        proc = subprocess.Popen(["java"] + flags + args, stdout=sys.stderr, stderr=sys.stderr,
                                env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, deadline - t_start))
        except subprocess.TimeoutExpired:
            stop(proc)
            raise SystemExit("perfbench: run exceeded its deadline")
        except BaseException:
            stop(proc)
            raise
        if rc == 0 and os.path.exists(result_file):
            break
        if i + 1 < len(tries):
            log(f"JVM exited {rc} with the class-data archive; running without it")
            open(jsa + ".failed", "w").close()
            if os.path.exists(jsa):
                os.remove(jsa)
            cds = "none"
    else:
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {rc})")
    if cds == "written" and os.path.isfile(jsa + ".tmp"):
        os.replace(jsa + ".tmp", jsa)

    with open(result_file) as f:
        res = json.load(f)
    record = res["run_record"]
    record["git_commit"] = git_commit(root)
    record["jvm_wall_s"] = time.time() - t_start
    record["class_archive"] = cds
    wrong = duck_compare(res["duck_checks"])
    for op, detail in sorted(wrong.items()):
        record["failures"].append({"op": op, "detail": detail})
    failed = min(res["attempted"], res["failed"] + len(wrong) * res["passes"])
    out = {"correct": res["correct"] and not wrong, "attempted": res["attempted"],
           "failed": failed, "metrics": res["metrics"]}
    res.update(out, run_record=record)
    with open(result_file, "w") as f:
        json.dump(res, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for f in record["failures"]:
        log(f"FAILED {f['op']}: {f['detail']}")
    print("run_record " + json.dumps(record, sort_keys=True, separators=(",", ":"))[:4000])
    aliases = ALIASES[a.workload] if a.trace == "0" else {}
    for name, m in res["metrics"].items():
        print(f"metric {name} {m['value']} {m['unit']}")
        if name in aliases:
            print(f"metric {aliases[name]} {m['value']} {m['unit']}")
    print(f"metric fail_frac {failed / res['attempted']} ratio")
    if a.trace == "1":
        print(f"trace artifact {os.path.relpath(result_file[:-5] + '-trace.json', root)}")
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
