#!/usr/bin/env python3
"""The graft benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and the harness from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged.

Workloads (one client, closed loop, local[nproc]):
  pdf_mixed   graft.Main's per-root calls over one tree of 400 small PDFs
              (all six writer shapes) and 8 large Flate PDFs
  query_mix   5 registered queries on seeded tables, a fresh session per
              pass over the durable artifacts built during set-up

Inputs are made from --seed (PDF trees by the JVM generator through the
engine's public PdfFixtures writers, query tables by gen_tables.py) and
are not part of any timing. Outputs are checked: PDF passes against the
generator's expected totals, queries against their DuckDB oracle twins.

The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Layer metrics of a layer the workload
does not exercise read 0.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

HERE = Path(__file__).resolve().parent
REPO = HERE.parent

WORKLOADS = ["pdf_mixed", "query_mix"]

QUERIES = ["dedup_containment", "graph_jaccard", "graph_walks", "stream_sessionize",
           "layout_bucket"]

# name -> (unit, better, how many samples it summarises: key of the JVM's info)
END_TO_END = {
    "setup_s": ("s", "lower", "setup_samples"),
    "pass_s": ("s", "lower", "passes"),
    "input_mb_per_s": ("MB/s", "higher", "passes"),
    "op_s_p50": ("s", "lower", "op_samples"),
    "op_s_tail": ("s", "lower", "op_samples"),
    "heap_live_mb_peak": ("MB", "lower", "heap_samples"),
}

PER_LAYER = {
    "sources.list_s": ("s", "lower"),
    "sources.files": ("count", "higher"),
    "sources.input_mb": ("MB", "higher"),
    "sources.artifact_builds": ("count", "lower"),
    "sources.artifact_mb": ("MB", "lower"),
    "sources.setup_artifact_builds": ("count", "lower"),
    "sources.setup_artifact_mb": ("MB", "lower"),
    **{f"pdf.open_ms_per_file.{s}": ("ms", "lower")
       for s in ["classic", "flate", "objstm", "rc4", "aes128", "aes256"]},
    "pdf.decode_mb_per_s": ("MB/s", "higher"),
    "pdf.fonts_ms_per_page": ("ms", "lower"),
    "pdf.extract_mb_per_s": ("MB/s", "higher"),
    "pdf.walk_mb_per_s": ("MB/s", "higher"),
    "pdf.pages": ("count", "higher"),
    "pdf.files_without_pages": ("count", "lower"),
    "split.mb_per_s": ("MB/s", "higher"),
    "split.chunks": ("count", "higher"),
    "ops.normalize_mb_per_s": ("MB/s", "higher"),
    "ops.filestats_s": ("s", "lower"),
    "ops.report_s": ("s", "lower"),
    "ops.csv_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_s": ("s", "lower"),
    "spark.busy_frac": ("ratio", "higher"),
    "spark.shuffle_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.gc_s": ("s", "lower"),
    **{k: v for q in QUERIES for k, v in
       [(f"query.{q}_s", ("s", "lower")), (f"query.{q}_jobs", ("count", "lower"))]},
    "trace.pass_s": ("s", "lower"),
    "trace.untraced_pass_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.self.harness_s": ("s", "lower"),
    "trace.self.driver_s": ("s", "lower"),
    "trace.self.jobs_s": ("s", "lower"),
}

# given after the engine's options, whose -Xmx it overrides; -Xms = -Xmx so
# the heap neither grows over the first passes nor shrinks after the
# heap probe's full collections
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file the build reads, in a stable order."""
    files = [HERE / "build.sbt", HERE / "project" / "build.properties",
             REPO / "build.sbt", REPO / "project" / "build.properties"]
    for d in (REPO / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compiles engine + harness when their sources changed; returns the
    runtime classpath and the engine build's JVM options."""
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(str(f.relative_to(REPO)).encode() + b"\0" + f.read_bytes())
    digest = digest.hexdigest()
    stamp = HERE / "target" / "perfbench-classpath.json"
    if stamp.exists():
        cached = json.loads(stamp.read_text())
        if cached.get("digest") == digest:
            return cached["jvm"]
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.server.autostart=false", "compile",
         "engineJavaOptions", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = proc.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or "classes" not in cp:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("sbt build failed")
    log(f"built in {time.time() - t0:.0f} s")
    opts = (HERE / "target" / "engine-java-options.txt").read_text().split("\n")
    jvm = {"classpath": cp, "java_options": [o for o in opts if o]}
    stamp.write_text(json.dumps({"digest": digest, "jvm": jvm}))
    return jvm


def java_cmd(jvm, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", *jvm["java_options"], f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
             "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work / 'derby'}",
             "-cp", jvm["classpath"], "graft.perfbench.BenchMain"])


def run_jvm(jvm, work, args):
    """Runs BenchMain; returns its PERFBENCH result (or None for `gen`)."""
    logf = work / "jvm.log"
    with open(logf, "w") as err:
        proc = subprocess.run(java_cmd(jvm, work) + args, stdout=subprocess.PIPE, stderr=err,
                              text=True, timeout=JVM_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(logf.read_text()[-6000:])
        raise SystemExit(f"BenchMain {args[0]} exited with {proc.returncode}")
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("PERFBENCH "):
            return json.loads(line[len("PERFBENCH "):])
    return None


def oracle_failures(corpus, verify_dir):
    """Each query's dumped result against its DuckDB twin, compared with
    the repository's correctness-gate canonicalization (scripts/check.py)."""
    import warnings
    import duckdb
    import pandas as pd
    warnings.simplefilter("ignore", FutureWarning)  # check.py's DataFrame.applymap
    sys.path.insert(0, str(REPO / "scripts"))
    from check import TABLES, canon

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    oracle = json.loads((Path(verify_dir) / "oracle_sql.json").read_text())
    bad = []
    for name in QUERIES:
        try:
            exp = canon(con.sql(oracle[name]).df())
            act = canon(pd.read_parquet(Path(verify_dir) / name))
        except Exception as e:  # a missing dump or a failing oracle is a failure
            bad.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if list(exp.columns) != list(act.columns) or len(exp) != len(act) or not exp.equals(act):
            bad.append(f"{name}: result differs from its oracle "
                       f"(rows {len(act)} vs {len(exp)})")
        elif len(exp) == 0:
            bad.append(f"{name}: empty result, the check would be vacuous")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    started = time.time()

    if not (REPO / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("perfbench: no engine sources next to perfbench/ "
                         "(run from the root of a graft checkout)")
    jvm = build()

    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        args = ["run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work)]
        corpus = None
        if a.workload.startswith("query_"):
            sys.path.insert(0, str(HERE))
            import gen_tables
            corpus = work / "corpus"
            gen_tables.generate(a.seed, corpus)
            args += ["--corpus", str(corpus)]
        if a.trace:
            args += ["--spans", str(HERE / "out" / f"spans-{a.workload}.jsonl")]
        res = run_jvm(jvm, work, args)
        if res is None:
            raise SystemExit("BenchMain printed no result")
        problems = list(res["problems"])
        failed = int(res["failed"])
        attempted = int(res["attempted"])
        if corpus is not None:
            bad = oracle_failures(corpus, res["verify_dir"])
            problems += bad
            failed = min(attempted, failed + len(bad))
        for p in problems:
            log(f"FAIL {p}")
        info = res["info"]
        log(json.dumps(info))
        wanted = PER_LAYER if a.trace else END_TO_END
        metrics = {}
        for name, spec in wanted.items():
            metrics[name] = {"value": float(res["metrics"][name]), "unit": spec[0]}
            samples = f" (n={info[spec[2]]})" if not a.trace else ""
            print(f"{name} = {metrics[name]['value']:.6g} {spec[0]}{samples}")
        tail = (f"op_s_tail is p{info['tail_percentile']} of {info['op_samples']} operations, "
                f"{info['ops_beyond_tail']} beyond it")
        print(f"# {a.workload} seed={a.seed} input={info['input_mb']:.2f} MB "
              f"passes={info['passes']} fail_frac={failed / max(attempted, 1):.4f}; {tail}; "
              f"run took {time.time() - started:.1f} s")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
