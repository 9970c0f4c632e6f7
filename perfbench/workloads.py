"""The three closed-loop workloads. Each is driven from one thread by one
client, calls only the package's public surface, times every call from
outside and checks every result.

Every workload fills the same three kinds of timed unit, so every
end-to-end metric exists on every workload:

=========  ========================  =========================  =====================
unit       rw_loop                   rebuild_read               catalog_mix
=========  ========================  =========================  =====================
``write``  ``db.append`` of 100      ``db.append`` of one load  ingest of one table
           records                   batch (set-up)             (set-up)
``read``   append return -> both     one read-mix step: point   one query: construct
           gated reads see it        get + index get + scan     + ``count()``
``round``  one cycle: append, reads  backfill of four views +   one sweep of all
           and ``maintain()``        ``db.rebuild()``           queries
=========  ========================  =========================  =====================
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen
from .metrics import Failures


@dataclass(frozen=True)
class Sizes:
    setup_reps: int = 3
    warm_setups: int = 1  # untimed set-ups first: the session's JIT is cold
    rw_preload: int = 50_000
    load_batch: int = 10_000
    cycle_batch: int = 100
    warm_cycles: int = 3
    rb_records: int = 100_000
    scan_width: int = 50_000
    reads_per_round: int = 4
    sample_keys: int = 2
    catalog_sf: str = "sf0.01"


FULL = Sizes()
TINY = Sizes(
    setup_reps=1, warm_setups=0, warm_cycles=1, rw_preload=2_000, load_batch=1_000,
    rb_records=4_000, scan_width=1_000, reads_per_round=1, sample_keys=1, catalog_sf="sf0.001",
)

# copies of the repository's synthetic test tables (TESTDATA.md, seed 42)
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

CATALOG_QUERIES = [
    # relational
    "q1_pricing_summary", "q3_top_revenue_orders", "window_top3_per_customer",
    # dedup
    "ns_dedup_exact", "ns_minhash_lsh_candidates",
    # ANN
    "ns_lsh_ann_topk_md5", "ns_ivf_ann_topk_seeded", "ns_pq_ann_topk_seeded",
    # extractors
    "ns_html_text", "ns_docx_text", "ns_pdf_text", "ns_xlsx_cells",
]

USER = "get_json_object(value, '$.user')"
KIND = "get_json_object(value, '$.kind')"


class Ctx:
    """One run's state: session, seed, clock, failures and timed units."""

    def __init__(self, spark, seed: int, seconds: float, work: str, tracer, sizes: Sizes):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.sizes = sizes
        self.failures = Failures()
        self.op_samples: dict[str, list[float]] = {}
        self.units: list[dict] = []
        self._open: list[dict] = []
        self.setup_s: list[float] = []
        self.detail: dict = {}  # artifact-only numbers
        self.floor_s: list[float] = []  # same-host floor samples
        self.floor_of: str = ""  # op whose latency the floor bounds
        self.log_shape: list[tuple[int, int]] = []  # (files, manifest bytes)
        self.space_amp = 0.0
        self.heap_live_mb = 0.0

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def in_layer(self, layer: str, name: str, fn):
        """``fn`` wrapped in a span of ``layer``: for calls the benchmark
        makes on an object a layer returned, such as a DataFrame action."""
        return self.tracer.wrap(fn, name, layer) if self.tracer else fn

    def op(self, name: str, fn, *args, check=None, **kwargs):
        """Time one call from outside; count it; check its result.
        Returns ``(ok, result)``. A raised or wrong call is a failure and
        gives no latency sample."""
        self.failures.attempt()
        cm = self.tracer.op(name) if self.tracer else nullcontext({})
        ok, out = True, None
        with cm as rec:
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            except Exception as exc:  # the loop must go on; failure is counted
                ok = False
                self.failures.fail(name, exc)
            dt = time.perf_counter() - t0
        if ok and check is not None:
            try:
                good = bool(check(out))
            except Exception as exc:
                good = False
                self.failures.fail(f"{name}: check raised", exc)
            else:
                if not good:
                    self.failures.fail(f"{name}: wrong result")
            ok = good
        rec.update(name=name, seconds=dt, ok=ok)
        if ok:
            self.op_samples.setdefault(name, []).append(dt)
        for u in self._open:
            u["ops"].append(rec)
            u["ok"] = u["ok"] and ok
        return ok, out

    @contextmanager
    def unit(self, kind: str):
        u = {"kind": kind, "ops": [], "ok": True}
        self._open.append(u)
        t0 = time.perf_counter()
        try:
            yield u
        finally:
            u["seconds"] = time.perf_counter() - t0
            self._open.remove(u)
            self.units.append(u)

    def reset_samples(self) -> None:
        """Forget the timings taken so far (warm-up); failures stay counted."""
        self.op_samples.clear()
        self.units.clear()
        self.floor_s.clear()
        self.log_shape.clear()
        if self.tracer:
            self.tracer.spans.clear()
            self.tracer.ops.clear()
            self.tracer.bookkeeping_s = 0.0

    def samples(self, kind: str) -> list[float]:
        return [u["seconds"] for u in self.units if u["kind"] == kind and u["ok"]]

    def note_state(self, path: str, payload_bytes: int) -> None:
        """Space amplification (bytes under ``path`` over the payload bytes
        it stores) and the JVM heap in use right after a full collection.
        Both are taken at a fixed point of the operation sequence, never
        after the timed loop: how many operations that loop runs follows
        the host's speed, and Spark keeps state for every job it ran."""
        stored = sum(
            os.path.getsize(os.path.join(d, f)) for d, _dirs, files in os.walk(path) for f in files
        )
        self.space_amp = stored / payload_bytes
        bean = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        bean.gc()
        self.heap_live_mb = bean.getHeapMemoryUsage().getUsed() / (1 << 20)

    def note_log(self, db) -> None:
        """Manifest length and size, for the traced run's log metrics."""
        with open(db.log.meta_path) as f:
            raw = f.read()
        self.log_shape.append((len(json.loads(raw).get("files", [])), len(raw.encode())))


def _manifest_files(db) -> list[str]:
    with open(db.log.meta_path) as f:
        meta = json.load(f)
    return [os.path.join(db.log.data_dir, name) for name in meta.get("files", [])]


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def _payload_bytes(db, batches) -> int:
    enc = db.log.codec.encode
    return sum(len(enc(r).encode()) for b in batches for r in b)


def _df_plan(ctx: Ctx, db) -> None:
    """Time ``db.log.df(spark)`` alone: planning over the manifest, no action."""
    plan = ctx.in_layer("log", "log.df_plan", db.log.df)
    t0 = time.perf_counter()
    plan(ctx.spark)
    ctx.op_samples.setdefault("log.df_plan", []).append(time.perf_counter() - t0)


def _setups(ctx: Ctx, setup, prefix: str):
    """Run ``setup(dir)`` ``warm_setups`` times untimed, then ``setup_reps``
    times timed, each in a fresh directory; keep the last db. Only the
    timed ones give ``setup_s`` samples."""
    sz = ctx.sizes
    db = None
    for rep in range(sz.warm_setups + sz.setup_reps):
        if db is not None:
            db.close()
            shutil.rmtree(os.path.dirname(db.dir))
        t0 = time.perf_counter()
        db = setup(ctx.path(f"{prefix}{rep}"))
        if rep >= sz.warm_setups:
            ctx.setup_s.append(time.perf_counter() - t0)
    return db


def _append_floor(ctx: Ctx, db, batch: list[dict]) -> None:
    """The same batch written with ``pq.write_table`` plus an fsync'd
    tmp-file ``os.replace``: what a log commit costs with no engine."""
    enc = db.log.codec.encode
    d = ctx.path("floor")
    t0 = time.perf_counter()
    table = pa.table({
        "seq": pa.array(range(len(batch)), pa.int64()),
        "ts": pa.array([time.time_ns() // 1000] * len(batch), pa.timestamp("us", tz="UTC")),
        "value": pa.array([enc(r) for r in batch], pa.string()),
    })
    tmp, final = os.path.join(d, "f.tmp"), os.path.join(d, "f.parquet")
    pq.write_table(table, tmp)
    fd = os.open(tmp, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
    os.replace(tmp, final)
    ctx.floor_s.append(time.perf_counter() - t0)


# ---------------------------------------------------------------------
# rw_loop
# ---------------------------------------------------------------------


def rw_loop(ctx: Ctx) -> None:
    """Small commits, each followed by gated reads of the write and a
    ``maintain()``, over a growing manifest."""
    from flumedb_spark import Flume, NativeStats
    from flumedb_spark.views.hashtable import Hashtable

    sz = ctx.sizes
    recs = gen.Records(ctx.seed)
    preload = [recs.batch(sz.load_batch) for _ in range(sz.rw_preload // sz.load_batch)]
    warm = recs.batch(sz.cycle_batch)

    def setup(d: str):
        db = Flume(os.path.join(d, "db"), spark=ctx.spark)
        for b in preload:
            db.append(b)
        db.use("stats", NativeStats(1, field="v"))
        db.use("latest", Hashtable(1, key_expr=USER))
        db.stats.ready()
        db.latest.ready()
        db.append(warm)
        db.latest.get(warm[-1]["user"])
        db.stats.get()
        db.maintain()
        return db

    db = _setups(ctx, setup, "rw")

    written = preload + [warm]
    n = sum(len(b) for b in written)
    total_v = sum(r["v"] for b in written for r in b)

    def cycle() -> None:
        nonlocal n, total_v
        batch = recs.batch(sz.cycle_batch)
        n += len(batch)
        total_v += sum(r["v"] for r in batch)
        want, user = batch[-1], batch[-1]["user"]
        want_n, want_v = n, total_v
        with ctx.unit("round"):
            with ctx.unit("write"):
                ctx.op("append", db.append, batch, check=lambda s: s == want_n - 1)
            with ctx.unit("read"):
                if ctx.tracer:  # gated read = catch-up + ungated read
                    ctx.op("catch_up.latest", db.latest.ready)
                    ctx.op("read.latest", db.latest.get, user, since=-1, check=lambda v: v == want)
                    ctx.op("catch_up.stats", db.stats.ready)
                    ctx.op("read.stats", db.stats.get, since=-1,
                           check=lambda s: s["count"] == want_n and s["sum"] == want_v)
                else:
                    ctx.op("get.latest", db.latest.get, user, check=lambda v: v == want)
                    ctx.op("get.stats", db.stats.get,
                           check=lambda s: s["count"] == want_n and s["sum"] == want_v)
            ok, out = ctx.op("maintain", db.maintain)
            if ok and out.get("log") is not None:
                ctx.detail["compactions"] = ctx.detail.get("compactions", 0) + 1
        written.append(batch)
        if ctx.tracer:
            ctx.note_log(db)
            _df_plan(ctx, db)
            _append_floor(ctx, db, batch)

    # the session's JIT keeps compiling for tens of seconds: cycles right
    # after set-up run measurably slower, so a fixed number is discarded
    t0 = time.perf_counter()
    for _ in range(sz.warm_cycles):
        cycle()
    ctx.reset_samples()
    ctx.detail["warmup_s"] = time.perf_counter() - t0
    ctx.note_state(db.dir, _payload_bytes(db, written))
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline:
        cycle()
    ctx.floor_of = "append"
    ctx.detail["records"] = n
    db.close()


# ---------------------------------------------------------------------
# rebuild_read
# ---------------------------------------------------------------------


def _duck_expect(db, users: list[str]) -> dict:
    """Every checked view result, computed by DuckDB over the
    manifest-listed log files."""
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW log AS SELECT seq, value, "
            "json_extract_string(value, '$.user') AS u, "
            "json_extract_string(value, '$.kind') AS k, "
            "CAST(json_extract(value, '$.v') AS BIGINT) AS v "
            f"FROM read_parquet({_sql_list(_manifest_files(db))})"
        )
        n, s, mn, mx = con.execute("SELECT count(*), sum(v), min(v), max(v) FROM log").fetchone()
        kinds = {
            k: (kn, float(ks), float(ksq), float(kmn), float(kmx))
            for k, kn, ks, ksq, kmn, kmx in con.execute(
                "SELECT k, count(*), sum(v), sum(v * v), min(v), max(v) FROM log GROUP BY k"
            ).fetchall()
        }
        by_user, latest = {}, {}
        for u in users:
            rows = con.execute("SELECT seq, value FROM log WHERE u = ? ORDER BY seq", [u]).fetchall()
            by_user[u] = [r[0] for r in rows]
            latest[u] = json.loads(rows[-1][1]) if rows else None
    finally:
        con.close()
    return {"stats": (n, float(s), float(mn), float(mx)), "kinds": kinds,
            "by_user": by_user, "latest": latest}


def _check_views(ctx: Ctx, db, want: dict, phase: str) -> None:
    """Ungated (``since=-1``) reads of every view against DuckDB."""
    f = ctx.failures
    s = db.stats.get(since=-1)
    f.check(f"{phase}: stats", (s["count"], s["sum"], s["min"], s["max"]) == want["stats"])
    got = {
        r.key: (r.n, r.s, r.sq, r.mn, r.mx)
        for r in db.by_kind.snapshot(since=-1).collect()
    }
    f.check(f"{phase}: by_kind", got == want["kinds"])
    for u, seqs in want["by_user"].items():
        hits = db.by_user.get(u, since=-1)
        f.check(f"{phase}: by_user[{u}]", [h["seq"] for h in hits] == seqs)
        f.check(f"{phase}: latest[{u}]", db.latest.get(u, since=-1) == want["latest"][u])


def rebuild_read(ctx: Ctx) -> None:
    """Late view registration over a loaded log (backfill), a full
    rebuild, then point gets, index gets and range scans. No appends in
    the timed region."""
    from flumedb_spark import Flume, NativeStats
    from flumedb_spark.views.grouped import GroupedStats
    from flumedb_spark.views.hashtable import Hashtable
    from flumedb_spark.views.level import Level

    sz = ctx.sizes
    recs = gen.Records(ctx.seed)
    batches = [recs.batch(sz.load_batch) for _ in range(sz.rb_records // sz.load_batch)]
    flat = [r for b in batches for r in b]
    n = len(flat)
    seqs_of: dict[str, list[int]] = {}
    for i, r in enumerate(flat):
        seqs_of.setdefault(r["user"], []).append(i)

    def setup(d: str):
        db = Flume(os.path.join(d, "db"), spark=ctx.spark)
        for b in batches:
            with ctx.unit("write"):
                ctx.op("append", db.append, b)
        db.maintain()
        ctx.spark.range(1000).selectExpr("sum(id)").collect()  # warm-up job
        return db

    db = _setups(ctx, setup, "rb")
    log_dir = db.dir
    db.close()
    ctx.note_state(log_dir, _payload_bytes(db, batches))

    sample_users = [recs.user() for _ in range(sz.sample_keys)]
    want = _duck_expect(db, sample_users)
    ctx.failures.check("duckdb stats == generated records", want["stats"] == (
        n, float(sum(r["v"] for r in flat)),
        float(min(r["v"] for r in flat)), float(max(r["v"] for r in flat)),
    ))
    files = _manifest_files(db)
    views = {
        "stats": lambda: NativeStats(1, field="v"),
        "latest": lambda: Hashtable(1, key_expr=USER),
        "by_user": lambda: Level(1, key_expr=f"array({USER})"),
        "by_kind": lambda: GroupedStats(1, key_expr=KIND, field="v"),
    }
    width = min(sz.scan_width, n // 2)
    rounds = 0
    deadline = time.perf_counter() + ctx.seconds
    while rounds == 0 or time.perf_counter() < deadline:
        db = Flume(log_dir, spark=ctx.spark)
        with ctx.unit("backfill") as backfill:
            for name, make in views.items():
                ctx.op(f"use.{name}", db.use, name, make())
                ctx.op(f"catch_up.{name}", getattr(db, name).ready)
        if ctx.tracer:
            ctx.note_log(db)
        _check_views(ctx, db, want, "backfill")
        with ctx.unit("rebuild") as rebuild:
            ctx.op("rebuild", db.rebuild)
        _check_views(ctx, db, want, "rebuild")
        ctx.units.append({
            "kind": "round", "seconds": backfill["seconds"] + rebuild["seconds"],
            "ops": backfill["ops"] + rebuild["ops"], "ok": backfill["ok"] and rebuild["ok"],
        })
        for _ in range(sz.reads_per_round):
            seq = recs.rng.randrange(n)
            user = recs.user()  # hot and cold keys, as written
            want_seqs = seqs_of.get(user, [])
            lo = recs.rng.randrange(n - width)
            with ctx.unit("read"):
                ctx.op("point_get", db.get, seq, check=lambda v, s=seq: v == flat[s])
                check_idx = lambda hits, w=want_seqs: [h["seq"] for h in hits] == w  # noqa: E731
                if ctx.tracer:
                    ctx.op("catch_up.by_user", db.by_user.ready)
                    ctx.op("read.by_user", db.by_user.get, user, since=-1, check=check_idx)
                else:
                    ctx.op("index_get", db.by_user.get, user, check=check_idx)
                ctx.op("scan", _scan, ctx, db, lo, lo + width, check=lambda c: c == width)
            if ctx.tracer:
                _scan_floor(ctx, files, lo, lo + width)
                _df_plan(ctx, db)
        for name in views:
            getattr(db, name).destroy()
        db.close()
        rounds += 1
    ctx.floor_of = "scan"
    ctx.detail["records"] = n
    ctx.detail["scan_rows"] = width


def _scan(ctx: Ctx, db, gt: int, lte: int) -> int:
    return ctx.in_layer("log", "log.scan_execute", db.stream_df(gt=gt, lte=lte).count)()


def _scan_floor(ctx: Ctx, files: list[str], gt: int, lte: int) -> None:
    """The same range counted by DuckDB over the manifest-listed files."""
    con = duckdb.connect()
    try:
        t0 = time.perf_counter()
        got = con.execute(
            f"SELECT count(*) FROM read_parquet({_sql_list(files)}) WHERE seq > ? AND seq <= ?", [gt, lte]
        ).fetchone()[0]
        ctx.floor_s.append(time.perf_counter() - t0)
    finally:
        con.close()
    ctx.failures.check("duckdb scan floor count", got == lte - gt)


# ---------------------------------------------------------------------
# catalog_mix
# ---------------------------------------------------------------------


def _canonical_hash(df: pd.DataFrame) -> str:
    """Columns sorted by name, rows sorted by every column, dtypes in."""
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    df = df.reset_index(drop=True)
    h = hashlib.sha256(repr([(c, str(df[c].dtype)) for c in df.columns]).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


def catalog_mix(ctx: Ctx) -> None:
    """Sweeps of twelve catalog queries over the repository's test tables,
    in a seeded order; each execution builds a fresh DataFrame. Bypasses
    log, engine and views."""
    import __spark_entry__ as entry
    from flumedb_spark import catalog
    from flumedb_spark.sources.ingest import ensure_ingested

    data_dir = os.path.join(DATA, ctx.sizes.catalog_sf)
    queries, oracles = entry.queries(), entry.oracle_sql()
    src_bytes = sum(os.path.getsize(os.path.join(data_dir, f"{t}.parquet")) for t in catalog.TABLES)
    order = random.Random(ctx.seed)

    def setup() -> None:
        # ingest into an empty warehouse, as a fresh install would
        os.environ["SPARK_GRAFT_WAREHOUSE"] = ctx.path("cat", "warehouse")
        for t in catalog.TABLES:
            with ctx.unit("write"):
                ctx.op("ingest", ctx.in_layer("catalog", "catalog.ingest", ensure_ingested),
                       ctx.spark, data_dir, t)
        catalog.register_tables(ctx.spark, data_dir)

    # one set-up only: ingest costs about 10 s a time
    t0 = time.perf_counter()
    setup()
    ctx.setup_s.append(time.perf_counter() - t0)

    # once per run, untimed: every query's sorted rows hash-match its
    # DuckDB oracle and its count() matches the oracle's row count. The
    # count() also compiles the plan the sweeps time: without it the first
    # sweep ran about 10% slower than later ones, and whether a 10 s run
    # fits one sweep or two made round_s_p50 bimodal
    con = duckdb.connect()
    expect_rows: dict[str, int] = {}
    duck_ms: dict[str, list[float]] = {}
    t_oracle = time.perf_counter()
    try:
        for t in catalog.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for q in CATALOG_QUERIES:
            for _ in range(3 if ctx.tracer else 1):
                t0 = time.perf_counter()
                ddf = con.execute(oracles[q]).df()
                duck_ms.setdefault(q, []).append(time.perf_counter() - t0)
            sdf = queries[q](ctx.spark, data_dir).toPandas()
            expect_rows[q] = len(ddf)
            ok = sorted(sdf.columns) == sorted(ddf.columns) and _canonical_hash(sdf) == _canonical_hash(ddf)
            ctx.failures.check(f"oracle hash {q}", ok)
            # compile the count() plan the sweeps time, on a DataFrame of its own
            ctx.failures.check(f"oracle rows {q}", queries[q](ctx.spark, data_dir).count() == len(ddf))
    finally:
        con.close()
    ctx.detail["oracle_pass_s"] = time.perf_counter() - t_oracle
    ctx.note_state(os.environ["SPARK_GRAFT_WAREHOUSE"], src_bytes)

    sweeps = 0
    deadline = time.perf_counter() + ctx.seconds
    while sweeps == 0 or time.perf_counter() < deadline:
        with ctx.unit("round"):
            for q in order.sample(CATALOG_QUERIES, len(CATALOG_QUERIES)):
                with ctx.unit("read"):
                    ok, df = ctx.op(f"construct.{q}", ctx.in_layer("catalog", f"catalog.{q}.construct",
                                                                   queries[q]), ctx.spark, data_dir)
                    if ok:
                        ctx.op(f"execute.{q}", ctx.in_layer("catalog", f"catalog.{q}.execute", df.count),
                               check=lambda c, q=q: c == expect_rows[q])
        sweeps += 1

    def median_ms(name: str):
        v = ctx.op_samples.get(name)
        return 1000 * statistics.median(v) if v else None

    ctx.floor_of = "query"
    ctx.floor_s = [statistics.median(v) for v in duck_ms.values()]
    ctx.detail["catalog"] = {
        q: {
            "construct_ms": median_ms(f"construct.{q}"),
            "execute_ms": median_ms(f"execute.{q}"),
            "duckdb_ms": 1000 * statistics.median(duck_ms[q]),
            "rows": expect_rows[q],
        }
        for q in CATALOG_QUERIES
    }


WORKLOADS = {"rw_loop": rw_loop, "rebuild_read": rebuild_read, "catalog_mix": catalog_mix}
