#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload clouds --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The program is compiled from the
checkout's sources into .bench_build/ (or $CARGO_TARGET_DIR) on first use,
then driven through its public Scala API by perfbench.Harness, on the
sf0.1 tables under perfbench/data. The seed makes the operation list; the
harness measures whole passes over it for --seconds, run.py checks every
output against DuckDB and prints the result as the last stdout line.
Everything a run writes stays under the build directory.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import digest  # noqa: E402

BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def _spark_jars():
    """The Spark jars the sbt build compiles against (its unmanagedBase)."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        return ""
    return m.group(1) if m else ""


SPARK_JARS = _spark_jars()
DATA = os.path.join(HERE, "data", "sf0.1")
WARM = os.path.join(HERE, "data", "sf0.001")
HEAP = "4g"

# Registry keys of the kernels workload: three graph kernels that run as
# driver twins at this size (union-find components, PageRank, label
# propagation) and four LLM-curation keys over the gram table and the
# 60-bit hash (see perfbench/README.md for the keys left out and why).
KEYS = {"kernels": ["g_connected_components", "g_pagerank", "g_label_prop", "d_minhash_lsh",
                    "d_containment", "d_ngram_jaccard", "t_bpe_train"]}
WORKLOADS = ["clouds"] + list(KEYS)
MODES = ["taxon", "family", "host", "host_harsh"]
PASSES = 8  # passes planned; the harness stops after --seconds

# ---------------------------------------------------------------------------
# build

def java_cmd(classes, heap, tmp=None):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # no hsperfdata file: a run writes nothing outside its run directory
    cmd = ["java", "-XX:-UsePerfData", "-Xms" + heap, "-Xmx" + heap, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-XX:+UnlockDiagnosticVMOptions",
           "-XX:GCLockerRetryAllocationCount=64"] + opens
    if tmp:
        cmd.append("-Djava.io.tmpdir=" + tmp)
    return cmd + ["-cp", "%s:%s/*" % (classes, SPARK_JARS)]


def build():
    """Compiles the program and the harness once per source state."""
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not program or not os.path.isdir(SPARK_JARS):
        sys.exit("perfbench: no program sources under src/main/scala, or no Spark jars in build.sbt")
    h = hashlib.sha256()
    for f in program + harness:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    scalac = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", SPARK_JARS + "/*", "scala.tools.nsc.Main",
              "-nowarn", "-d", classes]
    for srcs, cp in ((program, SPARK_JARS + "/*"), (harness, classes + ":" + SPARK_JARS + "/*")):
        r = subprocess.run(scalac + ["-classpath", cp] + srcs, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            sys.exit("perfbench: compilation failed")
    open(os.path.join(classes, ".done"), "w").close()
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes


# ---------------------------------------------------------------------------
# inputs

def ncbi_genomes():
    """Keys of the NCBI-source genomes, the seeds of taxon and family clouds."""
    con = digest.connect(DATA)
    return [k for (k,) in con.execute(
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY 1").fetchall()]


def taxon_key(rng, seeds, shortest):
    """A substring of `shortest` to 5 of the varying digits of an NCBI
    genome's taxonomy name (c_name = Customer#%09d, keys below 15000): one
    digit matches most genomes, five a handful, and at least one seed
    always matches."""
    digits = "%05d" % rng.choice(seeds)
    length = rng.randint(shortest, 5)
    start = rng.randrange(6 - length)
    return digits[start:start + length]


def cloud_pass(rng, seeds):
    """One pass of cloud requests with the same mix every time: a view in
    each mode, in seeded order, then a taxon-mode export, the one that
    also writes the HTML page. The export takes a 3- to 5-digit seed:
    exporting a cloud of most genomes writes about 100 MB and would make
    the pass time a draw of the export."""
    def request(kind, mode, shortest):
        key = "NATION_%d" % rng.randrange(25) if mode.startswith("host") else taxon_key(rng, seeds, shortest)
        return (kind, mode, key, round(rng.uniform(0.02, 0.15), 3))
    reqs = [request("view", m, 1) for m in MODES]
    rng.shuffle(reqs)
    return reqs + [request("export", "taxon", 3)]


def make_plan(workload, seed):
    """(warm-up operations, passes) for one run."""
    rng = random.Random("%s:%d" % (workload, seed))
    seeds = ncbi_genomes() if workload == "clouds" else None
    passes = []
    for _ in range(PASSES):
        if workload == "clouds":
            passes.append(cloud_pass(rng, seeds))
        else:
            keys = list(KEYS[workload])
            rng.shuffle(keys)
            passes.append([("key", k) for k in keys])
    # warm-up: the first operation at sf0.001, where any taxon seed is "1"
    op = passes[0][0]
    warm = [op[:2] + ("1",) + op[3:] if op[1] in ("taxon", "family") else op]
    return warm, passes


def write_plan(warm, passes, path):
    with open(path, "w") as f:
        for head, ops in [("warm", warm)] + [("pass", ops) for ops in passes]:
            f.write(head + "\n")
            for op in ops:
                f.write("\t".join(str(x) for x in op) + "\n")


# ---------------------------------------------------------------------------
# checks

def _q(s):
    return "'" + s.replace("'", "''") + "'"


# The Clouds.OracleCte graph: sharesDNA edges and PhageGenome nodes.
CLOUD_GRAPH = """
    CREATE TEMP TABLE edges AS
      SELECT a.c_custkey AS src, b.c_custkey AS dst,
             ABS(a.c_acctbal - b.c_acctbal)/11000.0 AS distance
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      WHERE ABS(a.c_acctbal - b.c_acctbal)/11000.0 <= 0.15;
    CREATE TEMP TABLE nodes AS
      SELECT c_custkey AS id, c_mktsegment AS source,
             CAST(FLOOR(ABS(c_acctbal)*10) AS BIGINT) AS genome_size,
             c_name AS taxonomy, c_nationkey AS hostkey,
             'G' || CAST(c_custkey % 7 AS VARCHAR) AS genus
      FROM customer"""


def cloud_oracle(mode, key, thr):
    """DuckDB recomputation of a cloud view over the CLOUD_GRAPH tables,
    with the request's parameters. Returns (nodes_sql, edges_sql)."""
    d = "CAST(%r AS DOUBLE)" % thr
    if mode in ("taxon", "family"):
        seeds = "SELECT id FROM nodes WHERE source = 'BUILDING' AND contains(taxonomy, %s)" % _q(key)
    else:
        harsh = " AND n.source <> 'FURNITURE'" if mode == "host_harsh" else ""
        seeds = ("SELECT n.id FROM nodes n JOIN nation h ON n.hostkey = h.n_nationkey "
                 "WHERE h.n_name = %s%s" % (_q(key), harsh))
    near = "FROM (%s) s JOIN edges e ON e.src = s.id WHERE e.distance <= %s" % (seeds, d)
    if mode == "family":  # optional expand: every seed plus its neighbours
        ids = "%s UNION SELECT e.dst %s" % (seeds, near)
    else:  # inner expand: both endpoints of every matching edge
        ids = "SELECT e.src %s UNION SELECT e.dst %s" % (near, near)
    ids = "WITH ids AS (%s)\n" % ids
    value = "" if mode.startswith("host") else ", %s - distance + CAST(0.1 AS DOUBLE) AS value" % d
    edges = ids + ("SELECT src, dst, distance%s FROM edges WHERE distance <= %s "
                   "AND src IN (SELECT * FROM ids) AND dst IN (SELECT * FROM ids)" % (value, d))
    if mode == "taxon":
        k = _q(key)
        nodes = ids + """SELECT id AS phage, source, genome_size, contains(taxonomy, %s) AS is_taxon,
             CASE WHEN source = 'BUILDING' AND contains(taxonomy, %s) THEN 'green'
                  WHEN source = 'BUILDING' THEN 'red' WHEN source = 'AUTOMOBILE' THEN 'cyan'
                  WHEN source = 'MACHINERY' THEN 'pink' WHEN source = 'HOUSEHOLD' THEN 'purple'
                  ELSE 'yellow' END AS color,
             CAST(FLOOR(genome_size / 3000) AS BIGINT) AS size
           FROM nodes WHERE id IN (SELECT * FROM ids)""" % (k, k)
    elif mode == "family":
        nodes = ids + """SELECT n.id AS phage, n.source, n.genome_size, n.taxonomy AS lineage,
             na.n_name AS target_taxon,
             CASE WHEN n.source = 'BUILDING' THEN 'C' || CAST(re.r_regionkey AS VARCHAR)
                  ELSE '#FFFFFF' END AS color
           FROM nodes n LEFT JOIN nation na ON n.hostkey = na.n_nationkey
           LEFT JOIN region re ON na.n_regionkey = re.r_regionkey
           WHERE n.id IN (SELECT * FROM ids)"""
    else:
        nodes = ids + """SELECT n.id AS phage, n.source, n.genome_size, n.genus AS phage_genus,
             h.n_name AS host_genus
           FROM nodes n LEFT JOIN nation h ON n.hostkey = h.n_nationkey
           WHERE n.id IN (SELECT * FROM ids)"""
    return nodes, edges


def _export_mismatches(con, path, cols, sql):
    """Rows of the exported JSON-lines directory's `cols` that are not in
    the oracle's, and the other way round (as multisets)."""
    files = sorted(glob.glob(os.path.join(path, "part-*")))
    c = ", ".join(cols)
    got = "SELECT %s FROM (SELECT NULL::BIGINT AS %s) WHERE false" % (c, " , NULL::BIGINT AS ".join(cols))
    if files:
        got = "SELECT %s FROM read_json([%s], format = 'newline_delimited', columns = {%s})" % (
            c, ", ".join(_q(f) for f in files), ", ".join("'%s': 'BIGINT'" % x for x in cols))
    want = "SELECT %s FROM (%s)" % (c, sql)
    return con.execute("SELECT count(*) FROM ((%s EXCEPT ALL %s) UNION ALL (%s EXCEPT ALL %s))" % (
        got, want, want, got)).fetchone()[0]


def check_op(con, rec, expected):
    """None when the operation's output matches its oracle, else why not."""
    if not rec["ok"]:
        return rec["err"]
    if rec["op"] == "key":
        want = expected.get(rec["label"])
        return None if want == rec["digest"] else "digest %s, expected %s" % (rec["digest"], want)
    kind, mode, key, thr = rec["label"].split(":")
    nodes_sql, edges_sql = cloud_oracle(mode, key, float(thr))
    if kind == "view":
        for part, sql in (("nodes", nodes_sql), ("edges", edges_sql)):
            want = digest.duckdb_digest(con, sql)
            if rec[part] != want:
                return "%s digest %s, expected %s" % (part, rec[part], want)
        return None
    for part, sql, cols in (("nodes", nodes_sql, ["phage"]), ("edges", edges_sql, ["src", "dst"])):
        n = _export_mismatches(con, os.path.join(rec["out"], part), cols, sql)
        if n:
            return "export %s: %d rows differ from the oracle's" % (part, n)
    if mode == "taxon" and not os.path.getsize(os.path.join(rec["out"], "cloud.html")):
        return "empty cloud.html"
    return None


# ---------------------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classes = build()
    run_dir = os.path.join(BUILD_DIR, "runs", "%s-%d-%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    os.makedirs(run_dir)
    try:
        return run(a, classes, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(a, classes, run_dir):
    plan = os.path.join(run_dir, "plan.tsv")
    write_plan(*make_plan(a.workload, a.seed), plan)
    out = os.path.join(run_dir, "out.jsonl")
    spans = os.path.join(BUILD_DIR, "spans", "%s-seed%d.jsonl" % (a.workload, a.seed))
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    log = os.path.join(run_dir, "harness.log")
    launch_ms = int(time.time() * 1000)
    with open(log, "w") as lf:
        r = subprocess.run(java_cmd(classes, HEAP, run_dir) + [
            "perfbench.Harness", a.workload, plan, out, str(a.trace), DATA, WARM, run_dir,
            str(launch_ms), str(a.seconds), spans], stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit("perfbench: harness exited with %d" % r.returncode)
    recs = [json.loads(line) for line in open(out)]
    summary = recs.pop()

    con = digest.connect(DATA)
    if a.workload == "clouds":
        con.execute(CLOUD_GRAPH)
    with open(os.path.join(HERE, "expected_digests.json")) as f:
        expected = json.load(f)
    failed = 0
    for rec in recs:
        why = check_op(con, rec, expected)
        if why:
            failed += 1
            sys.stderr.write("FAILED %s: %s\n" % (rec["label"], why))
    secs = [rec["secs"] for rec in recs]
    sys.stderr.write("ops %d, passes %d: %s\n" % (len(recs), summary["passes"], ", ".join(
        "%s %.2f s" % (rec["label"], rec["secs"]) for rec in recs)))

    if a.trace:
        values = summary["trace"]
        with open(spans[:-len(".jsonl")] + ".per_op.json", "w") as f:
            json.dump(values.pop("per_op"), f, indent=1)
        values["driver_live_heap_mb"] = summary["driver_live_heap_mb"]
        values["op_p50_s"] = statistics.median(secs)
    else:
        values = {"setup_s": summary["setup_s"], "pass_s": statistics.median(summary["pass_s"])}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer" if a.trace else "end_to_end"]}
    if set(values) != set(units):
        sys.exit("perfbench: metrics %s differ from the declared %s" % (sorted(values), sorted(units)))
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(recs), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
