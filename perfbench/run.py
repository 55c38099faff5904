#!/usr/bin/env python3
"""graft's seeded benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the harness
with sbt (offline) into the repository's own target/ directories; later runs
reuse the build until a source file changes. Inputs are generated per seed
into .bench_cache/ and reused. Human-readable metric lines go to stdout, and
the last stdout line is the JSON result. See perfbench/README.md.
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

# The generated inputs (subdirectories of the seed's cache) each workload reads.
INPUTS = {
    "region_lookup": ("cohort", "bam", "fasta"),
    "scan_aggregate": ("fastq", "vcf", "bam", "mzml"),
    "sink_roundtrip": (),  # its frames are generated inside the session
    "dedup_loops": ("docs", "warmdocs", "oracledocs"),
}
WORKLOADS = tuple(INPUTS)
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CACHE = os.path.join(ROOT, ".bench_cache")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
# Inputs of this many seeds stay cached (about 110 MB each): the default
# seeds 1-10, a held-out seed and one more.
KEEP_SEEDS = 12

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Units of the end-to-end and per-layer metrics; BENCHMARK.json lists the same names.
E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "mb_s": "MB/s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.start_ms": "ms", "session.register_ms": "ms", "session.tables_ms": "ms",
    "session.warm_ms": "ms", "spark.plan_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.in_job_ms": "ms", "spark.between_job_ms": "ms",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms", "jvm.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "op.k1_ms": "ms", "op.k2_ms": "ms", "op.k3_ms": "ms", "op.k4_ms": "ms",
    "plan.files_listed": "count", "plan.chunks_planned": "count", "plan.planned_bytes": "bytes",
    "plan.chunks_read": "count", "plan.records_parsed": "count", "plan.parsed_per_returned": "ratio",
    "decode.k1_mb_s": "MB/s", "decode.k2_mb_s": "MB/s", "decode.k3_mb_s": "MB/s",
    "decode.k4_mb_s": "MB/s", "s3.region_p50_ms": "ms", "traced.op_p50_ms": "ms", "traced.mb_s": "MB/s",
}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash(roots, files=()):
    """Hash of the named files and of every file under the named roots."""
    h = hashlib.sha256()
    files = list(files)
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true -Dsbt.server.autostart=false"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip() + " -Xmx2g -XX:-UsePerfData"
    return env


def classpath():
    """Build graft and the harness once per source state; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "source.sha256"), os.path.join(BUILD, "classpath.txt")
    want = source_hash(
        [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
         os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")],
        [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")])
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=fh,
                           text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(log, "a") as fh:
        fh.write(p.stdout)
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed, see {log}", 3)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(want)
    return lines[-1]


def java(cp, args, work, timeout, log):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The heap grows on demand up to 2 GB, when live data needs it: the young
    # generation has a fixed size (no adaptive eden sizing), and
    # GCTimeRatio=1 keeps G1 from growing the heap because GC pauses ran
    # long (which CPU steal on a shared host makes vary). So peak RSS follows
    # the data the run keeps live. -XX:-UsePerfData: no hsperfdata files
    # outside the checkout.
    cmd = ["java", "-Xmx2g", "-Xmn256m", "-XX:GCTimeRatio=1", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args
    with open(log, "w") as fh:
        # Two malloc arenas: with the default (up to eight per core), the
        # native memory left resident after the loop queries' shuffles and
        # Parquet reads varied by 150 MB from run to run.
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.kill(p.pid, signal.SIGQUIT)  # thread dump into the log, for diagnosis
            time.sleep(1)
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = -9
    if code != 0:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        die(f"{args[0]} failed (exit {code}); log {log}:\n{tail}", 4)


def input_digest(inputs, subdirs):
    """Content digest of a workload's inputs; each subdirectory's digest is
    computed once, after generation, and cached beside it."""
    h = hashlib.sha256()
    for sub in subdirs:
        d = os.path.join(inputs, sub)
        cached = os.path.join(d, "digest.txt")
        if not os.path.exists(cached):
            hs = hashlib.sha256()
            for base, dirs, fs in os.walk(d):
                dirs.sort()
                for f in sorted(fs):
                    if f in ("_done", "digest.txt", "oracle.json") or f.endswith(".parquet"):
                        continue
                    hs.update(os.path.relpath(os.path.join(base, f), d).encode())
                    with open(os.path.join(base, f), "rb") as fh:
                        for block in iter(lambda: fh.read(1 << 20), b""):
                            hs.update(block)
            with open(cached, "w") as fh:
                fh.write(hs.hexdigest())
        h.update(open(cached).read().encode())
    return h.hexdigest()[:16]


def evict(keep_dir):
    """Keep the inputs of the most recently used seeds only."""
    dirs = [os.path.join(CACHE, d) for d in os.listdir(CACHE)]
    dirs = sorted((d for d in dirs if os.path.isdir(d)), key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS:]:
        if d != keep_dir:
            shutil.rmtree(d, ignore_errors=True)


def row_digest(rows):
    """Same digest as perfbench.Docs.digest: rows as tab-joined strings, sorted."""
    h = hashlib.sha256()
    for r in sorted("\t".join("NULL" if v is None else str(v) for v in row) for row in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def docs_parquet(inputs):
    """documents.jsonl -> documents.parquet with DuckDB (not graft's sinks)."""
    import duckdb
    for sub in ("docs", "warmdocs", "oracledocs"):
        d = os.path.join(inputs, sub)
        pq = os.path.join(d, "documents.parquet")
        if not os.path.exists(pq):
            con = duckdb.connect()
            con.execute(
                f"COPY (SELECT * FROM read_json('{d}/documents.jsonl', format='newline_delimited', "
                f"columns={{'doc_id': 'BIGINT', 'text': 'VARCHAR', 'lang': 'VARCHAR', 'source': 'VARCHAR', "
                f"'n_chars': 'BIGINT'}}) ORDER BY doc_id) TO '{pq}.tmp' (FORMAT PARQUET)")
            con.close()
            os.replace(pq + ".tmp", pq)


def oracle_check(inputs):
    """Run each loop query's DuckDB oracle twin (SparkEntry.oracleSql) on the
    seed's oracle corpus and compare with the generator's expected digest;
    return (queries checked, mismatches). The twins' recursive CTEs take
    minutes on the timed corpus, so the check uses a small corpus with the
    same family structure; the timed corpus is checked against the
    generator on every pass. The result is cached beside the corpus, so the
    check runs once per seed."""
    import duckdb
    d = os.path.join(inputs, "oracledocs")
    cached = os.path.join(d, "oracle.json")
    if os.path.exists(cached):
        r = json.load(open(cached))
        return r["checked"], r["mismatch"]
    expected = {}
    for line in open(os.path.join(d, "expected.tsv")):
        k, v, _ = line.rstrip("\n").split("\t")
        expected[k] = v
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    mismatch, checked = [], 0
    for f in sorted(os.listdir(d)):
        if not f.endswith(".oracle.sql"):
            continue
        q = f[: -len(".oracle.sql")]
        checked += 1
        cur = con.execute(open(os.path.join(d, f)).read())
        cols = [c[0] for c in cur.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        got = row_digest([tuple(r[i] for i in order) for r in cur.fetchall()])
        print(f"oracle {q}: duckdb {got} generator {expected[q]}")
        if got != expected[q]:
            mismatch.append(f"{q}: oracle digest {got}, generator {expected[q]}")
    con.close()
    with open(cached + ".tmp", "w") as fh:
        json.dump({"checked": checked, "mismatch": mismatch}, fh)
    os.replace(cached + ".tmp", cached)
    return checked, mismatch


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat: the host taking this VM's CPUs."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v)


def named(workload, r):
    """Workload-specific views of the end-to-end metrics, from the result."""
    e, d = r["e2e"], r["detail"]
    out = [("error_rate", r["failed"] / max(r["attempted"], 1), "ratio")]
    if workload == "region_lookup":
        out += [("region_p50_ms", e["op_p50_ms"], "ms"),
                ("region_p95_ms", d.get("unit_p95_ms"), "ms")]
        if "unit_tail_pct" in d:
            out += [(f"region_p{d['unit_tail_pct']:g}_ms", d["unit_tail_ms"], "ms")]
    elif workload == "scan_aggregate":
        out += [("scan_mb_s", e["mb_s"], "MB/s")]
    elif workload == "sink_roundtrip":
        out += [("write_mb_s", d.get("write_mb_s"), "MB/s"),
                ("stored_bytes_ratio", d.get("stored_bytes_ratio"), "ratio"),
                ("readback_mb_s", d.get("readback_mb_s"), "MB/s")]
    elif workload == "dedup_loops":
        out += [("loops_pass_s", e["op_p50_ms"] / 1000.0, "s")]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from the root of a graft checkout (build.sbt and src/main/scala/graft not found)")

    t_start = time.time()
    cp = classpath()
    # Inputs depend only on the seed and the generator's code.
    gen_version = source_hash([os.path.join(HERE, "src", "main")])[:12]
    inputs = os.path.join(CACHE, f"seed-{a.seed}-{gen_version}")
    os.makedirs(inputs, exist_ok=True)
    os.utime(inputs)
    evict(inputs)
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.time()
    if not all(os.path.exists(os.path.join(inputs, sub, "_done")) for sub in INPUTS[a.workload]):
        java(cp, ["gen", a.workload, str(a.seed), inputs], work, 600, os.path.join(work, "gen.log"))
    if a.workload == "dedup_loops":
        docs_parquet(inputs)
    gen_s = time.time() - t0
    checked, mismatch = oracle_check(inputs) if a.workload == "dedup_loops" else (0, [])
    digest = input_digest(inputs, INPUTS[a.workload])

    result_file = os.path.join(work, "result.json")
    steal0, total0 = cpu_ticks()
    java(cp, ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace), inputs, work, result_file],
         work, 170, os.path.join(work, "run.log"))
    r = json.load(open(result_file))
    steal1, total1 = cpu_ticks()
    steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)

    os.makedirs(OUT, exist_ok=True)
    r["input_digest"], r["gen_s"], r["oracle_mismatch"] = digest, gen_s, mismatch
    r["cpu_steal_pct"] = steal_pct
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(OUT, f"{tag}.json"), "w") as fh:
        json.dump(r, fh, indent=1)
    if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(OUT, f"{tag}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    attempted, failed = r["attempted"] + checked, r["failed"] + len(mismatch)
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} inputs {digest} "
          f"generation {gen_s:.2f} s, {attempted} ops, {failed} failed, "
          f"wall {time.time() - t_start:.1f} s, cpu steal {steal_pct:.1f}%")
    for f in r["failures"] + mismatch:
        print(f"FAILED {f}")
    for k, v in r["e2e"].items():
        print(f"metric {k} {v:.6g} {E2E_UNITS[k]}")
    for k, v, unit in named(a.workload, r):
        print(f"metric {k} {'n/a' if v is None else format(v, '.6g')} {unit}")
    if a.trace:
        for k, v in list(r["layers"].items()) + list(r["detail"].items()):
            print(f"layer {k} {'n/a' if v is None else format(v, '.6g')}")

    units = LAYER_UNITS if a.trace else E2E_UNITS
    metrics = r["layers"] if a.trace else r["e2e"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
