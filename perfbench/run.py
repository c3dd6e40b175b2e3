#!/usr/bin/env python3
"""Serving-path benchmark for graft: submit -> materialize -> page over graft.wire.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ordered_pageout --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

The script builds the engine and the benchmark's host and load-generator
mains (perfbench/build.sbt), generates TPC-H-shaped tables, derives the op
lists from the seed, computes every op's expected rows and hash with DuckDB,
starts the host JVM (GraftWireServer over AsyncQueryRunner), drives it with
the load generator JVM (GraftWireClient) and prints one JSON line of metrics
last. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import random
import select
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap_agg", "ordered_pageout", "interactive_lookup")
SETUPS = 5            # set-ups per timed run, in one host JVM; setup_s is their median
HOST_HEAP = "2g"      # SPARK_DRIVER_MEM for the host; well below physical RAM
LOAD_HEAP = "1g"
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

END_TO_END = {  # name -> unit
    "setup_s": "s", "complete_s.p50": "s", "first_page_s.p50": "s",
    "last_page_s.p50": "s", "pageout_rows_per_s": "1/s", "ops_per_s": "1/s",
    "ok_frac": "frac", "rss_peak_mb": "MB", "result_bytes_per_row": "B",
}
PER_LAYER = {
    "sql.analyze_s": "s", "engine.noop_s": "s", "engine.jobs": "count",
    "engine.stages": "count", "engine.tasks": "count", "engine.task_time_s": "s",
    "engine.task_max_over_p50": "ratio", "engine.shuffle_bytes": "B",
    "engine.spill_bytes": "B", "engine.scan_rows": "count",
    "engine.files_read": "count", "engine.rows_scanned_per_row_returned": "ratio",
    "materializer.write_s": "s", "materializer.files": "count",
    "materializer.empty_files": "count", "materializer.row_groups": "count",
    "materializer.bytes": "B", "runner.overhead_s": "s", "pager.open_s": "s",
    "pager.rowgroup_read_s": "s", "pager.rowgroup_reads": "count",
    "pager.page_s": "s", "pager.arrow_encode_s": "s",
    "wire.requests_per_op": "count", "wire.status_polls_per_op": "count",
    "wire.ping_rtt_s": "s", "wire.page_rtt_s": "s", "wire.bytes_per_row": "B",
    "jvm.gc_s": "s", "first_page_s.p90": "s",
    "self.sql_s": "s", "self.engine_s": "s", "self.materializer_s": "s",
    "self.pager_s": "s", "self.runner_wire_s": "s",
    "trace.unexplained_frac": "frac", "trace.overhead_frac": "frac",
}


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def build_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")


def _tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(bd):
    """Compile engine + benchmark with sbt once per source tree; returns the classpath."""
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    stamp = _tree_digest(inputs)
    cp_file = os.path.join(bd, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    log("building engine and benchmark with sbt")
    res = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                         cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, timeout=840)
    lines = [l for l in res.stdout.splitlines() if "scala-library" in l]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:])
        raise BenchError("sbt build failed")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def data_dir(bd, sf):
    """Generated tables for scale factor `sf`, regenerated when gen_data.py changes."""
    d = os.path.join(bd, "data", f"sf{sf}")
    stamp = _tree_digest([os.path.join(HERE, "gen_data.py")])
    stamp_file = os.path.join(d, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return d
    log(f"generating sf{sf} tables")
    subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), d, str(sf)],
                   check=True, timeout=300)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return d


# ---------------------------------------------------------------- workloads

def _day(rng, lo, hi):
    d = lo + datetime.timedelta(days=rng.randrange((hi - lo).days))
    return f"timestamp '{d.isoformat()} 00:00:00'"


def olap_sql(kind, rng, d):
    c, o, l, s, n, r = (f"read_files('{d}/{t}.parquet')" for t in
                        ("customer", "orders", "lineitem", "supplier", "nation", "region"))
    rev = "sum(l_extendedprice * (1 - l_discount)) as revenue"
    if kind == "q1":
        day = _day(rng, datetime.date(2001, 7, 1), datetime.date(2001, 9, 1))
        return ("select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty, "
                "sum(l_extendedprice) as sum_base_price, "
                "sum(l_extendedprice * (1 - l_discount)) as sum_disc_price, "
                "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) as sum_charge, "
                "avg(l_quantity) as avg_qty, avg(l_extendedprice) as avg_price, "
                "avg(l_discount) as avg_disc, count(*) as count_order "
                f"from {l} where l_shipdate <= {day} "
                "group by l_returnflag, l_linestatus order by l_returnflag, l_linestatus")
    if kind == "q3":
        seg = rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
        day = _day(rng, datetime.date(1996, 1, 1), datetime.date(2000, 1, 1))
        return (f"select l_orderkey, {rev}, o_orderdate from {c} c "
                f"join {o} o on c_custkey = o_custkey join {l} l on l_orderkey = o_orderkey "
                f"where c_mktsegment = '{seg}' and o_orderdate < {day} and l_shipdate > {day} "
                "group by l_orderkey, o_orderdate order by revenue desc, l_orderkey limit 10")
    if kind == "q5":
        region = rng.choice(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])
        year = rng.randrange(1995, 2001)
        return (f"select n_name, {rev} from {c} c "
                f"join {o} o on c_custkey = o_custkey join {l} l on l_orderkey = o_orderkey "
                f"join {s} s on l_suppkey = s_suppkey and c_nationkey = s_nationkey "
                f"join {n} n on s_nationkey = n_nationkey join {r} r on n_regionkey = r_regionkey "
                f"where r_name = '{region}' "
                f"and o_orderdate >= timestamp '{year}-01-01 00:00:00' "
                f"and o_orderdate < timestamp '{year + 1}-01-01 00:00:00' "
                "group by n_name order by revenue desc")
    year, month = rng.randrange(1995, 2001), rng.choice([1, 4, 7, 10])
    end = f"{year + (month == 10)}-{(month + 2) % 12 + 1:02d}-01"
    return (f"select c_custkey, c_name, {rev}, c_acctbal, n_name from {c} c "
            f"join {o} o on c_custkey = o_custkey join {l} l on l_orderkey = o_orderkey "
            f"join {n} n on c_nationkey = n_nationkey "
            f"where o_orderdate >= timestamp '{year}-{month:02d}-01 00:00:00' "
            f"and o_orderdate < timestamp '{end} 00:00:00' and l_returnflag = 'R' "
            "group by c_custkey, c_name, c_acctbal, n_name "
            "order by revenue desc, c_custkey limit 20")


# (kind, table, key column, rows per key): keys are drawn among those with
# the table's typical result size, so result sizes do not vary with the seed
LOOKUPS = (("customer", "customer", "c_custkey", 1), ("orders", "orders", "o_custkey", 10),
           ("lineitem", "lineitem", "l_orderkey", 4))


def lookup_sql(table, col, key, d):
    return f"select * from read_files('{d}/{table}.parquet') where {col} = {key}"


def pageout_sql(threshold, d):
    return (f"select * from read_files('{d}/lineitem.parquet') "
            f"where l_quantity > {threshold} order by l_orderkey, l_linenumber")


def warmup_ops(workload, d):
    """One cycle of the workload's op kinds over the tables in `d`."""
    if workload == "olap_agg":
        rng = random.Random("warmup")
        return [{"kind": k, "sql": olap_sql(k, rng, d)} for k in ("q1", "q3", "q5", "q10")]
    if workload == "ordered_pageout":
        return [{"kind": "pageout", "sql": pageout_sql(10.5, d)}]
    return [{"kind": k, "sql": lookup_sql(t, c, 1, d)} for k, t, c, _ in LOOKUPS]


def make_ops(workload, seed, d, keys):
    """The op lists a seed gives: one list per client, walked in order.

    Each op is {kind, sql, digits, ordered[, order, key]}. `keys` maps a
    lookup kind to the key values its table holds, so every lookup hits rows.
    `warmup_ops` is the number of ops each client runs untimed first.
    """
    rng = random.Random(f"{workload}:{seed}")
    if workload == "olap_agg":
        clients = [[{"kind": k, "sql": olap_sql(k, rng, d), "digits": 6, "ordered": False}
                    for _ in range(8) for k in ("q1", "q3", "q5", "q10")]]
        return dict(clients=clients, cycle=4, page_limit=100, first_page_only=False,
                    warmup_ops=4)
    if workload == "ordered_pageout":
        # quantities are whole numbers, so every threshold in [10, 11) selects
        # the same rows: the seed moves the constant, not the amount of work
        t = 10 + rng.randrange(1000) / 1000
        op = {"kind": "pageout", "sql": pageout_sql(t, d), "digits": 9,
              "ordered": True, "order": "l_orderkey, l_linenumber"}
        return dict(clients=[[op]], cycle=1, page_limit=8192, first_page_only=False,
                    warmup_ops=2)
    clients = []
    for _ in range(3):
        ops = []
        for _ in range(40):
            for kind, table, col, _ in LOOKUPS:
                key = rng.choice(keys[kind])
                ops.append({"kind": kind, "sql": lookup_sql(table, col, key, d),
                            "digits": 9, "ordered": False, "key": key})
        clients.append(ops)
    return dict(clients=clients, cycle=3, page_limit=100, first_page_only=True,
                warmup_ops=15)


# ---------------------------------------------------------------- expected results

def _canon(con, sql, digits):
    """DuckDB expression for a row's text, matching perfbench.ResultHash."""
    parts = []
    for name, typ, *_ in con.sql(f"describe {sql}").fetchall():
        c = f'"{name}"'
        if typ in ("DOUBLE", "FLOAT"):
            e = f"case when {c} = 0 then '0' else printf('%.{digits - 1}e', {c}::double) end"
        elif typ.startswith("TIMESTAMP"):
            e = f"cast(epoch_us({c}) as varchar)"
        elif typ in ("VARCHAR", "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
            e = f"cast({c} as varchar)"
        else:
            raise BenchError(f"no canonical form for {typ} column {name}")
        parts.append(f"coalesce({e}, '\\N')")
    return "concat_ws('|', " + ", ".join(parts) + ")"


def _duck(sql):
    return sql.replace("read_files(", "read_parquet(")


def expected(con, op):
    """(rows, hash) of one op's result, computed by DuckDB."""
    sql = _duck(op["sql"])
    order = op["order"] if op["ordered"] else "h"
    extra = f", {op['order']}" if op["ordered"] else ""
    q = (f"select count(*), md5(coalesce(string_agg(h, ',' order by {order}), '')) "
         f"from (select md5({_canon(con, f'({sql})', op['digits'])}) h{extra} from ({sql}))")
    return con.sql(q).fetchone()


def expect_lookups(con, ops, d):
    """Expected (rows, hash) of every lookup, one DuckDB query per table."""
    out = {}
    for kind, table, col, _ in LOOKUPS:
        keys = sorted({o["key"] for o in ops if o["kind"] == kind})
        if not keys:
            continue
        src = f"(select * from read_parquet('{d}/{table}.parquet') where {col} in ({','.join(map(str, keys))}))"
        rows = con.sql(f"select {col}, count(*), md5(string_agg(h, ',' order by h)) from "
                       f"(select {col}, md5({_canon(con, src, 9)}) h from {src}) group by {col}"
                       ).fetchall()
        out.update({(kind, k): (n, h) for k, n, h in rows})
    return out


def prepare(workload, seed, d, d_small):
    """Op lists with expected rows and hashes, all computed before any timing.

    Each host set-up runs the workload's first op kind in-process on the
    small tables in `d_small`.
    """
    import duckdb
    con = duckdb.connect(config={"temp_directory": os.path.join(build_root(), "tmp", "duckdb")})
    keys = {k: [r[0] for r in con.sql(
        f"select {c} from read_parquet('{d}/{t}.parquet') group by 1 "
        f"having count(*) = {n} order by 1").fetchall()] for k, t, c, n in LOOKUPS}
    spec = make_ops(workload, seed, d, keys)
    ops = [o for c in spec["clients"] for o in c]
    if workload == "interactive_lookup":
        exp = expect_lookups(con, ops, d)
        empty = hashlib.md5(b"").hexdigest()
        for o in ops:
            o["rows"], o["hash"] = exp.get((o["kind"], o["key"]), (0, empty))
    else:
        cache = {}
        for o in ops:
            if o["sql"] not in cache:
                cache[o["sql"]] = expected(con, o)
            o["rows"], o["hash"] = cache[o["sql"]]
    spec["setup_warmup"] = warmup_ops(workload, d_small)[:1]
    # a full GC after each op's forget keeps one op's garbage out of the next
    # op's timing; with several clients it would pause the others' ops
    spec["gc_between_ops"] = len(spec["clients"]) == 1
    con.close()
    return spec


# ---------------------------------------------------------------- processes

class Host:
    """The serving JVM; READY carries its set-up times (see perfbench.Host)."""

    def __init__(self, cp, ops_path, results, trace, setups, work, log_path):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(min(4, os.cpu_count() or 1)),
                   SPARK_DRIVER_MEM=HOST_HEAP)
        self.log = open(log_path, "w")
        t0 = time.monotonic()
        self.proc = subprocess.Popen(
            ["java", *JVM_OPTS, *_scratch_opts(work), f"-Xms{HOST_HEAP}", f"-Xmx{HOST_HEAP}",
             "-cp", cp, "perfbench.Host", ops_path, results, str(trace), str(setups)],
            stdout=subprocess.PIPE, stderr=self.log, text=True, env=env, cwd=work)
        try:
            self.ready = self._await_ready(t0 + 60)
        except BaseException:
            self.kill()
            raise
        self.launch_s = time.monotonic() - t0

    def _await_ready(self, deadline):
        buf = ""
        while time.monotonic() < deadline:
            r, _, _ = select.select([self.proc.stdout], [], [], 1.0)
            if r:
                line = self.proc.stdout.readline()
                if not line:
                    break
                if line.startswith("READY "):
                    return json.loads(line[6:])
                buf += line
            elif self.proc.poll() is not None:
                break
        raise BenchError(f"host did not become ready (see {self.log.name}) {buf[-500:]}")

    def ask(self, line):
        with socket.create_connection(("127.0.0.1", self.ready["control"]), timeout=60) as s:
            s.sendall((line + "\n").encode())
            data = b""
            while not data.endswith(b"\n"):
                chunk = s.recv(65536)
                if not chunk:
                    break
                data += chunk
        return json.loads(data)

    def quit(self):
        reply = self.ask("quit")
        try:
            self.proc.wait(timeout=60)
        finally:
            self.kill()
        return reply

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.log.close()


def _scratch_opts(work):
    """Keep the JVMs' temporary files (Spark local dirs, native libraries)
    inside the run's work directory."""
    return [f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}"]


def run_load(cp, ops_path, out_path, host, seconds, trace, work, log_path, corrupt=False):
    args = ["java", *JVM_OPTS, *_scratch_opts(work), f"-Xmx{LOAD_HEAP}", "-cp", cp,
            "perfbench.Load", ops_path,
            out_path, str(host.ready["port"]), str(host.ready["control"]), str(seconds),
            str(trace)] + (["corrupt"] if corrupt else [])
    with open(log_path, "w") as lg:
        p = subprocess.Popen(args, stdout=lg, stderr=lg, cwd=work)
        try:
            rc = p.wait(timeout=seconds * (2 if trace else 1) + (110 if trace else 70))
        except subprocess.TimeoutExpired:
            raise BenchError("load generator timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        raise BenchError(f"load generator failed with code {rc} (see {log_path})")
    with open(out_path) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def pct(values, q):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def median(values):
    return statistics.median(values) if values else float("nan")


def end_to_end(phase, setups, quit_reply):
    ops = phase["ops"]
    ok = [o for o in ops if o["ok"]]
    inf = float("inf")
    lat = lambda key: [o[key] if o["ok"] else inf for o in ops]
    layout = [o["layout"] for o in ops]
    return {
        "setup_s": median(setups),
        "complete_s.p50": median(lat("complete_s")),
        "first_page_s.p50": median(lat("first_s")),
        "last_page_s.p50": median(lat("last_s")),
        "pageout_rows_per_s": sum(o["rows"] for o in ok) / max(
            sum(o["page_s"] for o in ok), 1e-9),
        "ops_per_s": len(ok) / phase["wall_s"],
        "ok_frac": len(ok) / len(ops),
        "rss_peak_mb": quit_reply["hwm_kb"] / 1024,
        "result_bytes_per_row": sum(l["bytes"] for l in layout) / max(
            sum(l["rows"] for l in layout), 1),
    }


def _dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def _by_name(spans):
    out = {}
    for s in spans:
        out.setdefault(s["name"], []).append(_dur(s))
    return out


def _finite(xs):
    return [x for x in xs if math.isfinite(x)]


def per_layer(out):
    """Per-layer metrics of a traced run (see README.md for the map)."""
    timed, traced = out["timed"], out["traced"]
    n_timed = len(timed["ops"])
    b1, a1, b2, a2 = out["stats"]  # around each untraced half
    delta = lambda k: (a1[k] - b1[k] + a2[k] - b2[k]) / n_timed
    skew = a1["skew"][len(b1["skew"]):] + a2["skew"][len(b2["skew"]):]
    tops = traced["ops"]
    reps = [r["replay"] for r in out["replays"]]
    rep = [_by_name(r["spans"]) for r in reps]
    one = lambda r, k: sum(r.get(k, [0.0]))
    mat_write = [one(r, "materializer.materialize") - one(r, "engine.noop") for r in rep]
    by_root = {o["span_root"]: o for o in tops}
    wire_spans = {}
    for s in out["spans"]:
        wire_spans.setdefault(s["op"], []).append(s)

    def wire_time(root_id):
        """A traced op's time without its hashing, and the share of it no
        client span covers."""
        spans = wire_spans[root_id]
        root = next(s for s in spans if s["id"] == root_id)
        kids = [s for s in spans if s["parent"] == root_id]
        hashing = sum(_dur(s) for s in kids if s["name"] == "client.hash")
        return _dur(root) - hashing, (_dur(root) - sum(_dur(s) for s in kids)) / _dur(root)

    traced_time = [wire_time(o["span_root"]) for o in tops]
    untraced_op = median([o["wall_s"] - o["hash_s"] for o in timed["ops"]])
    in_process = [one(r, "sql.analyze") + one(r, "materializer.materialize") +
                  one(r, "pager.arrow") for r in rep]
    replayed = [by_root[r["span_root"]] for r in out["replays"]]
    rows = sum(r["rows"] for r in reps)
    scan = [o.get("scan_rows", 0) for o in tops]
    gets = [_dur(s) for s in out["spans"] if s["name"] == "wire.get_data"]
    layouts = [o["layout"] for o in timed["ops"]]
    mean = lambda xs: sum(xs) / max(len(xs), 1)
    return {
        "sql.analyze_s": median([one(r, "sql.analyze") for r in rep]),
        "engine.noop_s": median([one(r, "engine.noop") for r in rep]),
        "engine.jobs": delta("jobs"), "engine.stages": delta("stages"),
        "engine.tasks": delta("tasks"), "engine.task_time_s": delta("task_ns") / 1e9,
        "engine.task_max_over_p50": median(skew) if skew else 1.0,
        "engine.shuffle_bytes": delta("shuffle_bytes"),
        "engine.spill_bytes": delta("spill_bytes"),
        "engine.scan_rows": median(scan),
        "engine.files_read": median([o.get("files_read", 0) for o in tops]),
        "engine.rows_scanned_per_row_returned": sum(scan) / max(
            sum(o["rows"] for o in tops if o["ok"]), 1),
        "materializer.write_s": median(mat_write),
        "materializer.files": mean([l["files"] for l in layouts]),
        "materializer.empty_files": mean([l["empty_files"] for l in layouts]),
        "materializer.row_groups": mean([l["row_groups"] for l in layouts]),
        "materializer.bytes": mean([l["bytes"] for l in layouts]),
        "runner.overhead_s": median(_finite([
            o["complete_s"] - one(r, "sql.analyze") - one(r, "materializer.materialize")
            for o, r in zip(replayed, rep)])),
        "pager.open_s": median([one(r, "pager.arrow.new") + one(r, "pager.arrow.first")
                                for r in rep]),
        "pager.rowgroup_read_s": mean([one(r, "pager.rowgroup_read") for r in rep]),
        "pager.rowgroup_reads": mean([r["rowgroup_reads"] for r in reps]),
        "pager.page_s": mean([one(r, "pager.rows") for r in rep]),
        "pager.arrow_encode_s": mean([one(r, "pager.arrow") - one(r, "pager.rows")
                                      for r in rep]),
        "wire.requests_per_op": mean([o["requests"] for o in tops]),
        "wire.status_polls_per_op": mean([o["status_polls"] for o in tops]),
        "wire.ping_rtt_s": median(out["ping_s"]),
        "wire.page_rtt_s": median(gets),
        "wire.bytes_per_row": sum(r["ipc_bytes"] for r in reps) / max(rows, 1),
        "jvm.gc_s": delta("gc_ms") / 1000,
        # over correct ops: with more than a tenth of ops failing, the
        # failed-is-infinite rule would leave no number to compare
        "first_page_s.p90": pct([o["first_s"] for o in timed["ops"] if o["ok"]] or [0.0], 0.9),
        "self.sql_s": median([one(r, "sql.analyze") for r in rep]),
        "self.engine_s": median([one(r, "engine.noop") for r in rep]),
        "self.materializer_s": median(mat_write),
        "self.pager_s": median([one(r, "pager.arrow") for r in rep]),
        "self.runner_wire_s": median([wire_time(r["span_root"])[0] - p
                                      for r, p in zip(out["replays"], in_process)]),
        "trace.unexplained_frac": median([u for _, u in traced_time]),
        "trace.overhead_frac": median([t for t, _ in traced_time]) / untraced_op - 1,
    }


def summarize_failures(ops):
    by_kind = {}
    for o in ops:
        k = by_kind.setdefault(o["kind"], {"attempted": 0, "failed": 0, "reasons": {}})
        k["attempted"] += 1
        if not o["ok"]:
            k["failed"] += 1
            k["reasons"][o["reason"]] = k["reasons"].get(o["reason"], 0) + 1
    for kind, k in sorted(by_kind.items()):
        log(f"{kind}: {k['failed']}/{k['attempted']} failed "
            + "; ".join(f"{n}x {r}" for r, n in k["reasons"].items()))
    return by_kind


# ---------------------------------------------------------------- one run

def run(workload, seed, seconds, trace, sf=0.1, setups=SETUPS, corrupt=False):
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, f)):
            raise BenchError(f"engine sources not found: {f} (run from a full checkout)")
    bd = build_root()
    os.makedirs(bd, exist_ok=True)
    cp = build(bd)
    t0 = time.monotonic()
    d = data_dir(bd, sf)
    spec = prepare(workload, seed, d, data_dir(bd, 0.001))
    log(f"ops and expected results ready in {time.monotonic() - t0:.1f}s")
    os.makedirs(os.path.join(bd, "tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=os.path.join(bd, "tmp"))
    host = None
    try:
        ops_path = os.path.join(work, "ops.json")
        with open(ops_path, "w") as f:
            json.dump(spec, f)
        results = os.path.join(work, "results")
        host_log = os.path.join(bd, f"host-{workload}.log")
        host = Host(cp, ops_path, results, trace, 1 if trace else setups, work, host_log)
        setup_times = host.ready["setups_s"]
        log(f"host ready in {host.launch_s:.1f}s; set-ups {setup_times}")
        t0, steal0 = time.monotonic(), cpu_steal()
        out = run_load(cp, ops_path, os.path.join(work, "load.json"), host, seconds,
                       trace, work, os.path.join(bd, f"load-{workload}.log"), corrupt)
        steal1 = cpu_steal()
        steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        # on a shared virtual machine the hypervisor's share of CPU time moves
        # every timing; a high share explains an outlying run
        log(f"load generator done in {time.monotonic() - t0:.1f}s; cpu steal {steal:.1%}")
        quit_reply = host.quit()
        phase = out["timed"]
        kinds = summarize_failures(phase["ops"])
        wrong = [o for o in phase["ops"] if not o["ok"] and o["reason"].startswith("wrong")]
        if quit_reply["result_root_entries"] != 0:
            log(f"result root not empty at exit: {quit_reply['result_root_entries']} entries")
        correct = not wrong and quit_reply["result_root_entries"] == 0
        failed = sum(1 for o in phase["ops"] if not o["ok"])
        log(f"fail_frac = {failed / len(phase['ops']):.4f} over {len(phase['ops'])} ops")
        if trace:
            metrics = per_layer(out)
            units = PER_LAYER
            trace_dir = os.path.join(bd, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{workload}-seed{seed}.json")
            with open(path, "w") as f:
                json.dump({"wire_spans": out["spans"], "replays": out["replays"],
                           "per_layer": metrics}, f)
            log(f"spans written to {os.path.relpath(path, ROOT)}")
        else:
            metrics = end_to_end(phase, setup_times, quit_reply)
            units = END_TO_END
        env = {"nproc": os.cpu_count(), "ram_mb": os.sysconf("SC_PAGE_SIZE") *
               os.sysconf("SC_PHYS_PAGES") // (1 << 20), "host_heap": HOST_HEAP,
               "seed": seed, "workload": workload, "samples": len(phase["ops"]),
               "cpu_steal_frac": steal,
               "git_sha": git_sha(), **{k: host.ready[k] for k in ("jdk", "spark", "cores")}}
        log("environment " + json.dumps(env))
        with open(os.path.join(bd, f"last-{workload}.json"), "w") as f:
            json.dump({"env": env, "kinds": kinds, "metrics": metrics,
                       "setups_s": setup_times, "launch_to_ready_s": host.launch_s,
                       "ops": phase["ops"]},
                      f, indent=1)
        return {"correct": correct, "attempted": len(phase["ops"]), "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    finally:
        if host:
            host.kill()
        shutil.rmtree(work, ignore_errors=True)


def cpu_steal():
    """(steal, total) CPU jiffies since boot, from /proc/stat (Linux)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 1


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ---------------------------------------------------------------- self-test

def selftest():
    """Fast checks at sf0.001: op lists repeat per seed, every metric is
    emitted with its unit in both modes, and a corrupted page is caught."""
    d = "/nonexistent"
    keys = {"customer": [1, 2, 3], "orders": [4, 5], "lineitem": [6, 7, 8]}
    for w in WORKLOADS:
        a, b = make_ops(w, 7, d, keys), make_ops(w, 7, d, keys)
        assert a == b, f"{w}: the same seed gave different op lists"
        assert make_ops(w, 8, d, keys) != a, f"{w}: the seed does not reach the ops"
    for w in WORKLOADS:
        for trace, names in ((0, END_TO_END), (1, PER_LAYER)):
            res = run(w, 1, 1, trace, sf=0.001, setups=1)
            assert res["correct"], f"{w} trace={trace}: not correct"
            assert set(res["metrics"]) == set(names), f"{w}: metric set differs"
            for k, m in res["metrics"].items():
                assert m["unit"] == names[k] and isinstance(m["value"], (int, float)), k
            log(f"selftest {w} trace={trace}: ok")
    res = run("olap_agg", 1, 1, 0, sf=0.001, setups=1, corrupt=True)
    assert not res["correct"] and res["failed"] == res["attempted"], \
        "negative control: a corrupted page was not caught"
    log("selftest negative control: corrupted pages were caught")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    # a terminated run still unwinds, so its JVMs are stopped and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        if a.selftest:
            selftest()
            print("selftest ok")
            return 0
        if not a.workload:
            ap.error("--workload is required")
        res = run(a.workload, a.seed, a.seconds, a.trace)
        bad = [k for k, m in res["metrics"].items() if not math.isfinite(m["value"])]
        if bad:
            raise BenchError(f"no finite value for {', '.join(bad)}: too many ops failed")
    except (BenchError, AssertionError, subprocess.SubprocessError, OSError) as e:
        log(f"error: {e}")
        return 1
    print(json.dumps(res, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
