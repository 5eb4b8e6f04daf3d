#!/usr/bin/env python3
"""Benchmark of the csvb Spark engine's user paths.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <exec_csv|pg_serve|federate> \
        --seed <n> --seconds <s> --trace <0|1>

It builds the program and the JVM harness from source (cached by a hash
of the sources), generates the seeded inputs in a fresh run directory
under `.perfbench/`, runs the workload for `--seconds`, checks every
operation's output, stops every process it started and prints one JSON
object as the last stdout line. See perfbench/README.md.
"""
import argparse
import ctypes
import hashlib
import json
import os
import pwd
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import check  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
CPUS = 4
JVM_MEM = "2g"
PG_BIN = "/usr/lib/postgresql/15/bin"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# workload sizes
EXEC_ORDERS = 15000        # ~60k lineitem rows over 4 CSV files (~4.4 MB)
SERVE_SF = 0.02            # ~120k lineitem rows of parquet
SERVE_CLIENTS = 4
FED_ORDERS = 30000         # ~120k lineitem rows split over two shards
FED_WARMUP_CYCLES = 2      # untimed op-mix cycles at the end of federate's set-up
SETUP_REPEATS = 3


class Failure(Exception):
    """The benchmark could not run; no result is printed."""


# ------------------------------------------------------------- processes

_children = []
_libc = ctypes.CDLL("libc.so.6", use_errno=True)
PR_SET_PDEATHSIG, CLONE_NEWUSER = 1, 0x10000000


def _die_with_parent():
    # a child must not outlive this process, even if it is killed
    _libc.prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def _in_user_namespace(uid, gid):
    """A pre-exec hook: enter a new user namespace in which this process's
    uid and gid map to `uid` and `gid`, then arm the death signal (the
    credential change clears one set before)."""
    def enter():
        me, mygid = os.getuid(), os.getgid()
        if _libc.unshare(CLONE_NEWUSER) != 0:
            raise OSError(ctypes.get_errno(), "unshare(CLONE_NEWUSER)")
        for f, line in (("setgroups", "deny"), ("uid_map", f"{uid} {me} 1"), ("gid_map", f"{gid} {mygid} 1")):
            with open(f"/proc/self/{f}", "w") as fh:
                fh.write(line)
        _die_with_parent()
    return enter


def spawn(cmd, preexec=_die_with_parent, **kw):
    p = subprocess.Popen(cmd, preexec_fn=preexec, **kw)
    _children.append(p)
    return p


def stop(p, sig=signal.SIGTERM, wait=15):
    if p.poll() is None:
        p.send_signal(sig)
        try:
            p.wait(wait)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    if p in _children:
        _children.remove(p)


def stop_all():
    for p in list(_children):
        stop(p, wait=5)


def run(cmd, timeout, preexec=_die_with_parent, **kw):
    """Run to completion; returns (wall seconds, stdout)."""
    t = time.perf_counter()
    p = spawn(cmd, preexec, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop(p)
        raise Failure(f"timed out after {timeout}s: {' '.join(cmd[-3:])}")
    wall = time.perf_counter() - t
    _children.remove(p)
    if p.returncode != 0:
        raise Failure(f"exit {p.returncode}: {' '.join(cmd[-3:])[:300]}\n{err[-2000:]}")
    return wall, out


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


# ----------------------------------------------------------------- build

def _sources_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "jvm", "src"), os.path.join(HERE, "jvm", "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "jvm", "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness unless the sources are unchanged
    since the last build; return (runtime classpath, whether it built)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "Cli.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise Failure(f"no program to measure: {need} is missing under {ROOT}")
    d = os.path.join(WORK, "build")
    stamp, cpfile = os.path.join(d, "stamp"), os.path.join(d, "classpath")
    digest = _sources_hash()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cpfile):
        cp = open(cpfile).read()
        if all(os.path.exists(x) for x in cp.split(":")):
            return cp, False
    os.makedirs(d, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    _, out = run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                  "export perfbench/Runtime/fullClasspath"],
                 timeout=840, cwd=os.path.join(HERE, "jvm"), env=env)
    cp = out.strip().splitlines()[-1].strip()
    if "graft" not in cp and "classes" not in cp:
        raise Failure(f"could not read the classpath from sbt: {cp[:200]}")
    with open(cpfile, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp, True


# ------------------------------------------------------------- helpers

class Ctx:
    def __init__(self, args, cp, rundir):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.cp, self.dir = cp, rundir
        self.tmp = os.path.join(rundir, "tmp")
        os.makedirs(self.tmp)
        self.env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS),
                        SPARK_LOCAL_DIRS=os.path.join(rundir, "spark-local"))

    def path(self, *p):
        return os.path.join(self.dir, *p)

    def java(self, main, *args):
        # -UsePerfData: no hsperfdata file under /tmp
        return (["java", *ADD_OPENS, f"-Xmx{JVM_MEM}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
                 "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
                 "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={self.tmp}",
                 "-cp", self.cp, main, *args])

    def harness(self, mode, conf, timeout):
        """Run the JVM harness in `mode` with `conf`; return its result JSON."""
        conf = dict(conf, seconds=str(self.seconds), trace=str(self.trace),
                    out=self.path(f"{mode}.result.json"))
        cpath = self.path(f"{mode}.properties")
        with open(cpath, "w") as fh:
            for k, v in conf.items():
                fh.write(f"{k}={v.replace(chr(92), chr(92) * 2)}\n")
        run(self.java("perfbench.Harness", mode, cpath), timeout=timeout, cwd=self.dir, env=self.env)
        with open(conf["out"]) as fh:
            return json.load(fh)


def canary():
    """Wall seconds of a fixed single-thread CPU loop (host noise gauge)."""
    t = time.perf_counter()
    h = 0x9E3779B9
    for i in range(1_500_000):
        h = ((h ^ i) * 0x2545F491) & 0xFFFFFFFF
    return time.perf_counter() - t


# ------------------------------------------------------------ exec_csv

def exec_csv(ctx):
    files, orders = gen.write_exec_csv(ctx.seed, EXEC_ORDERS, ctx.path("csv"))
    stmts = gen.exec_statements(ctx.seed, 16, EXEC_ORDERS)
    expected = check.exec_expected(files, orders, [s for _, s in stmts])
    bind = [a for f in files for a in ("--csv", f"lineitem={f}")] + ["--csv", f"orders={orders}"]
    setup = [run(ctx.java("graft.Cli", "haiku"), 120, cwd=ctx.dir, env=ctx.env)[0]
             for _ in range(SETUP_REPEATS)]
    ops, layer = [], {"spans": [], "child": []}
    phases = [("A", ctx.seconds, False)] if not ctx.trace else \
        [("A", ctx.seconds / 2, False), ("B", ctx.seconds / 2, True)]
    i = 0
    for phase, secs, traced in phases:
        end = time.perf_counter() + secs
        j, last = 0, 0.0  # each phase runs the same statements, so traced and untraced compare
        # start another invocation only if it should end in time: one
        # invocation outlasts a short run, and the count stays the same
        while j == 0 or time.perf_counter() + last <= end:
            kind, sql = stmts[j % len(stmts)]
            main = "perfbench.Harness" if traced else "graft.Cli"
            cmd = ctx.java(main, "exec", *bind, sql)
            spawn_ms = time.time() * 1000
            try:
                wall, out = run(cmd, 150, cwd=ctx.dir, env=ctx.env)
                err = check.pretty_vs(out, expected[j % len(stmts)])
            except Failure as e:
                wall, out, err = time.time() - spawn_ms / 1000, "", str(e)
            op = {"id": f"{phase}-{i}", "cls": kind, "phase": phase, "ms": wall * 1000,
                  "ok": err is None, "err": err, "start": spawn_ms, "end": spawn_ms + wall * 1000}
            ops.append(op)
            last = wall
            if traced and err is None:
                rec = json.loads(out.strip().splitlines()[-1][len("PERFBENCH "):])
                rec["jvm_to_main_ms"] = rec["main_ms"] - spawn_ms
                rec["wall_ms"] = wall * 1000
                # the child's spans hang under one spawn-to-exit span per op
                base = 1_000_000 * (i + 1)
                layer["spans"].append({"id": base, "name": "cli.exec", "start": spawn_ms,
                                       "end": op["end"], "parent": 0, "op": op["id"]})
                layer["spans"] += [dict(s, id=s["id"] + base, parent=s["parent"] + base, op=op["id"])
                                   for s in rec.pop("spans")]
                layer["child"].append(rec)
            i += 1
            j += 1
    return {"setup_s": statistics.median(setup), "setup": {f"haiku_{k}_s": v for k, v in enumerate(setup)},
            "ops": ops, "checks": [], "layer": layer}


# ------------------------------------------------------------ pg_serve

def pg_serve(ctx):
    tbls = gen.tables(ctx.seed, SERVE_SF)
    names = ["lineitem", "orders", "customer", "nation"]
    paths = gen.write_parquet(tbls, ctx.path("tables"), names)
    n_orders = tbls["orders"].num_rows
    payloads = gen.copy_payloads(ctx.seed, 8, 2000, ctx.path("copy"))
    plans = gen.serve_ops(ctx.seed, SERVE_CLIENTS, 1000, n_orders, len(payloads))
    for c, plan in enumerate(plans):
        with open(ctx.path(f"ops_{c}.tsv"), "w") as fh:
            fh.write("".join(f"{cls}\t{sql}\n" for cls, sql in plan))
    os.makedirs(ctx.path("wt"))
    res = ctx.harness("serve", {
        "tables": ",".join(f"{n}={paths[n]}" for n in names), "wt_dir": ctx.path("wt"),
        "clients": str(SERVE_CLIENTS), "ops_prefix": ctx.path("ops_"),
        "payloads": ",".join(payloads), "sample_every": "4", "max_samples": "12"},
        timeout=ctx.seconds + 150)
    res["setup_s"] = res["setup"]["total_s"]
    return res


# ------------------------------------------------------------ federate

class PgCluster:
    """One throwaway PostgreSQL cluster in `datadir`. The server refuses
    to run as root, so it runs in a user namespace where this process's
    uid maps to the `postgres` account; files stay owned by the caller."""

    def __init__(self, datadir, port):
        self.dir, self.port, self.proc = datadir, port, None
        self.as_postgres = _in_user_namespace(*pwd.getpwnam("postgres")[2:4])

    def start(self, logfile):
        run([f"{PG_BIN}/initdb", "-D", self.dir, "-U", "graft", "--auth=trust",
             "--no-locale", "-E", "UTF8", "--no-sync"], 120, self.as_postgres)
        conf = {"listen_addresses": "'127.0.0.1'", "port": str(self.port), "unix_socket_directories": "''",
                "max_connections": "30", "shared_buffers": "64MB", "fsync": "off",
                "synchronous_commit": "off", "full_page_writes": "off",
                "dynamic_shared_memory_type": "mmap", "logging_collector": "off"}
        with open(os.path.join(self.dir, "postgresql.conf"), "a") as fh:
            fh.write("".join(f"{k} = {v}\n" for k, v in conf.items()))
        self.log = open(logfile, "w")
        self.proc = spawn([f"{PG_BIN}/postgres", "-D", self.dir], self.as_postgres,
                          stdout=self.log, stderr=subprocess.STDOUT)
        for _ in range(200):
            if subprocess.run([f"{PG_BIN}/pg_isready", "-h", "127.0.0.1", "-p", str(self.port)],
                              capture_output=True).returncode == 0:
                break
            if self.proc.poll() is not None:
                raise Failure(f"postgres exited: {open(logfile).read()[-1000:]}")
            time.sleep(0.1)
        else:
            raise Failure("postgres did not start")
        self.psql("postgres", "CREATE DATABASE graft")

    def psql(self, db, sql, stdin=None):
        r = subprocess.run([f"{PG_BIN}/psql", "-X", "-q", "-v", "ON_ERROR_STOP=1", "-h", "127.0.0.1",
                            "-p", str(self.port), "-U", "graft", "-d", db, "-c", sql],
                           input=stdin, capture_output=True, text=True, timeout=120)
        if r.returncode != 0:
            raise Failure(f"psql: {r.stderr[-500:]}")
        return r.stdout

    def stop(self):
        if self.proc is not None:
            stop(self.proc, signal.SIGINT, wait=20)  # fast shutdown
            self.log.close()
            self.proc = None


def federate(ctx):
    csvs, whole = gen.shard_loads(ctx.seed, FED_ORDERS, ctx.path("shards"))
    ops = gen.fed_ops(ctx.seed, 400)
    with open(ctx.path("fed_ops.tsv"), "w") as fh:
        fh.write("".join("\t".join(map(str, o)) + "\n" for o in ops))
    expected = check.fed_expected(whole, ops)
    clusters = [PgCluster(ctx.path(f"pg{i}"), free_port()) for i in range(2)]
    cols = ("l_orderkey bigint, l_linenumber integer, l_quantity double precision, "
            "l_extendedprice double precision, l_discount double precision, l_returnflag text, "
            "l_shipdate timestamp")
    try:
        for c, csv in zip(clusters, csvs):
            c.start(ctx.path(f"pg{c.port}.log"))
            c.psql("graft", f"CREATE TABLE li ({cols}); CREATE TABLE wt (k bigint, v text, d double precision)")
            with open(csv) as fh:
                c.psql("graft", "COPY li FROM STDIN WITH (FORMAT csv)", stdin=fh.read())
            c.psql("graft", "ANALYZE li")
        res = ctx.harness("federate", {
            "shards": ",".join(f"127.0.0.1:{c.port}" for c in clusters), "table": "li",
            "write_table": "wt", "columns": ",".join(gen.FED_COLS), "ops_file": ctx.path("fed_ops.tsv"),
            "warmup_ops": str(FED_WARMUP_CYCLES * gen.FED_CYCLE)},
            timeout=ctx.seconds + 150)
    finally:
        for c in clusters:
            c.stop()
    for op in res["ops"]:
        if op["cls"] == "read" and op["ok"]:
            idx = int(op["id"].split("-")[1]) % len(ops)
            err = check.pretty_vs(op["pretty"], expected[idx])
            if err:
                op["ok"], op["err"] = False, err
    res["setup_s"] = res["setup"]["total_s"]
    return res


WORKLOADS = {"exec_csv": exec_csv, "pg_serve": pg_serve, "federate": federate}
# the operation class whose median latency is `op_median_ms`
PRIMARY = {"exec_csv": None, "pg_serve": None, "federate": "read"}


# ------------------------------------------------------------- metrics

def end_to_end(workload, res):
    """The end-to-end metrics over the untraced phase's operations."""
    timed = [o for o in res["ops"] if o["phase"] == "A"]
    prim = [o["ms"] for o in timed if o["ok"] and PRIMARY[workload] in (None, o["cls"])]
    wall_s = (max(o["end"] for o in timed) - min(o["start"] for o in timed)) / 1000
    return {"setup_s": (res["setup_s"], "s"),
            "op_median_ms": (statistics.median(prim), "ms"),
            # completed operations of every class per second of wall time
            "ops_per_s": (sum(1 for o in timed if o["ok"]) / wall_s, "1/s")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    def on_signal(signum, _frame):
        raise Failure(f"stopped by signal {signum}")
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(s, on_signal)

    rundir = None
    signal.alarm(880)  # a run that builds may take longer
    try:
        cp, built = build()
        if not built:
            signal.alarm(170)
        runs = os.path.join(WORK, "runs")
        for d in os.listdir(runs) if os.path.isdir(runs) else []:
            # left behind by a runner that was killed outright
            if not os.path.exists(f"/proc/{d.split('-')[1]}"):
                shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
        rundir = os.path.join(runs, f"{args.workload}-{os.getpid()}-{time.time_ns()}")
        os.makedirs(rundir)
        ctx = Ctx(args, cp, rundir)
        c0 = canary()
        res = WORKLOADS[args.workload](ctx)
        c1 = canary()
    except Failure as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        stop_all()
        if rundir:
            shutil.rmtree(rundir, ignore_errors=True)

    failures = [f"{o['id']} {o['cls']}: {o['err']}" for o in res["ops"] if not o["ok"]]
    failures += [f"check {c['what']}: {c['detail']}" for c in res["checks"] if not c["ok"]]
    attempted = len(res["ops"]) + len(res["checks"])
    for f in failures:
        print(f"FAILED {f}")
    print("setup parts: " + ", ".join(f"{k}={v:.1f}" for k, v in res["setup"].items()))
    print(f"canary_s before={c0:.4f} after={c1:.4f}  ops={len(res['ops'])} "
          f"failed_ratio={len(failures) / max(1, attempted):.4f}")
    n = sum(1 for o in res["ops"] if o["phase"] == "A" and o["ok"]
            and PRIMARY[args.workload] in (None, o["cls"]))
    if n == 0:
        print("perfbench: no timed operation completed", file=sys.stderr)
        return 1
    if args.trace:
        metrics, report = layers.per_layer(args.workload, res, end_to_end)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tpath = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(tpath, "w") as fh:
            json.dump(report, fh, indent=1)
        print(f"trace written to {os.path.relpath(tpath, ROOT)}")
    else:
        metrics = end_to_end(args.workload, res)
        for k, (v, u) in metrics.items():
            print(f"{k} = {v:.4f} {u}" + (f"  (n={n})" if k == "op_median_ms" else ""))
    print(json.dumps({"correct": not failures, "attempted": max(1, attempted), "failed": len(failures),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
