"""The benchmark's two workloads and their correctness checks.

Each workload is a fixed list of operations ("ops") run closed loop by one
client on the main thread. An op is a query (its latency runs from the call
into the layer to the end of a ``noop``-sink action) or a commit (a write
to a versioned table). ``analytics`` is a stateless query list whose order
the seed permutes per pass. A ``pipeline`` pass is the LLM-data query list,
permuted the same way, then one seeded cycle of commits and reads on a
versioned table, replayed independently in Python so the head version can
be checked.
"""

from __future__ import annotations

import decimal
import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

#: Relational registry queries: TPC-H shapes, rollup, window, outer join,
#: set op, event windows and an as-of join. Catalyst and the JVM executor
#: do the work; no Python UDF runs and nothing is committed.
ANALYTICS = [
    "q1_pricing_summary", "q3_shipping_priority", "q6_revenue_change",
    "agg_rollup", "window_topk_per_group", "join_full_outer",
    "setop_intersect_all", "events_window_hourly", "events_asof_join",
]

#: The reference's SQL entry point, through ``MuraSession.sql`` over the
#: tables ``catalog.register_sf_dir`` registers; DuckDB runs the same text
#: as the oracle.
SQL_NATION_BALANCE = (
    "SELECT n.n_name AS n_name, CAST(COUNT(*) AS BIGINT) AS n_cust, "
    "CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal "
    "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "GROUP BY n.n_name")

#: One ``PlanBuilder`` chain (scan → filter → aggregate) and its oracle.
PLAN_ORACLE = (
    "SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty "
    "FROM lineitem WHERE l_discount > 0.05 GROUP BY l_returnflag")

#: LLM-data-pipeline registry rows: the multimodal feature extractor, the
#: minhash and simhash dedup miners (pandas/Arrow UDF kernels in Python
#: workers, and candidate-pair shuffles), language id and fingerprinting.
#: The first is the ``pipeline`` warm-up op.
LLM_PIPELINE = [
    "mm_feature_extract", "dedup_minhash_pairs", "dedup_simhash_pairs",
    "text_langid", "text_fingerprint",
]

@dataclass
class Op:
    name: str
    kind: str                 # "query" | "commit"
    layer: str                # span name of the call into the program
    call: Callable            # (ctx) -> DataFrame for queries, else result
    check: Callable | None = None   # (ctx, result) -> error str | None
    oracle: str | None = None       # DuckDB SQL the result must equal


@dataclass
class Ctx:
    """What an op needs: the session, the inputs and the workload state."""
    spark: object
    ms: object                # MuraSession
    data_dir: str
    work_dir: str
    seed: int
    state: dict = field(default_factory=dict)


# --------------------------------------------------------------- checks

def _norm(pdf) -> tuple:
    """The repository's oracle-gate normal form of a result frame: sorted
    column names and the order-insensitive, type-tagged rows."""
    from scripts.check_oracle import norm_rows
    cols, rows = norm_rows(list(pdf.columns), list(
        pdf.itertuples(index=False, name=None)))
    return tuple(cols), tuple(rows)


def oracle_results(data_dir: str, sqls: dict[str, str]) -> dict:
    """Normalised DuckDB results of ``sqls`` over the inputs in
    ``data_dir`` (name -> normal form, or an error string), computed
    after the verify pass."""
    import duckdb
    con = duckdb.connect()
    for f in os.listdir(data_dir):
        name, ext = os.path.splitext(f)
        if ext == ".parquet":
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, f)}'")
    out = {}
    for name, sql in sqls.items():
        try:
            out[name] = _norm(con.execute(sql).df())
        except duckdb.Error as e:
            out[name] = f"oracle failed: {e}"
    con.close()
    return out


def oracle_mismatch(pdf, want) -> str | None:
    if isinstance(want, str):
        return want
    got = _norm(pdf)
    if got == want:
        return None
    return f"oracle mismatch: {len(got[1])} rows vs {len(want[1])} expected"


# ------------------------------------------------------------ query lists

def _registry_op(name: str) -> Op:
    from mura_spark.suite import ORACLE_SQL, SPARK_QUERIES
    fn = SPARK_QUERIES[name]
    return Op(name, "query", "suite.build",
              lambda ctx: fn(ctx.spark, ctx.data_dir),
              oracle=ORACLE_SQL[name])


def _sql_op() -> Op:
    return Op("sql_nation_balance", "query", "session.sql",
              lambda ctx: ctx.ms.sql(SQL_NATION_BALANCE),
              oracle=SQL_NATION_BALANCE)


def _plan_op() -> Op:
    def call(ctx):
        from pyspark.sql import functions as F
        return (ctx.ms.scan("lineitem",
                            ["l_returnflag", "l_quantity", "l_discount"])
                .filter(F.col("l_discount") > 0.05)
                .aggregate([F.col("l_returnflag")],
                           [F.count(F.lit(1)).cast("long").alias("n"),
                            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                            .cast("double").alias("qty")])
                .build())
    return Op("plan_returnflag_qty", "query", "plan.build", call,
              oracle=PLAN_ORACLE)


def register_inputs(ctx: Ctx) -> None:
    """Catalog registration the SQL and plan ops read."""
    from mura_spark.catalog import register_sf_dir
    register_sf_dir(ctx.spark, ctx.data_dir, names=["customer", "nation"])
    ctx.ms.create_external_table(
        "lineitem", os.path.join(ctx.data_dir, "lineitem.parquet"))


class QueryWorkload:
    """A fixed query list; the seed permutes the order of every pass.
    A run times at least ``min_passes`` passes however short it is."""

    def __init__(self, ops: list[Op], min_passes: int):
        self.ops = ops
        self.min_passes = min_passes

    def prepare(self, ctx: Ctx) -> None:
        if any(op.layer in ("session.sql", "plan.build") for op in self.ops):
            register_inputs(ctx)

    def warm_op(self) -> Op:
        return self.ops[0]

    def pass_ops(self, ctx: Ctx, i: int) -> list[Op]:
        order = np.random.default_rng([ctx.seed, i]).permutation(
            len(self.ops))
        return [self.ops[j] for j in order]

    def final_check(self, ctx: Ctx) -> list[str]:
        return []


# ---------------------------------------------------- table commits

#: Rows landed per cycle, rows per upsert, and the versions vacuum keeps.
#: Every cycle ends with compact plus vacuum, which keeps write
#: amplification level.
BATCH = 200
UPSERT = 200
RETAIN = 3


class TableCommits:
    """Writes beside reads on a versioned table seeded from ``orders``.

    Keys below half the orders table seed the main table; the upper half
    is the pool new rows come from. One cycle:

    - ``append``: land a batch in an append-only landing table;
    - ``stream_pass``: one ``availableNow`` stream pass landing → main;
    - ``merge``: SQL ``MERGE INTO`` through ``MuraSession.sql``, half
      updates of live keys and half inserts;
    - ``view_refresh``: the incremental aggregate view over the main table;
    - reads: time travel to the cycle's first version, a ``lookup``
      (bloom-pruned) read, and the change feed since that version;
    - ``compact`` then ``vacuum``.

    A Python replay of the same seeded ops tracks the expected rows,
    the row count and price sum of every version, and the change counts.
    """

    def prepare(self, ctx: Ctx) -> None:
        """Create the tables and start the replay from the same rows."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from mura_spark.sources.incremental_view import IncrementalAggView
        from mura_spark.sources.table_format import MuraTable
        from mura_spark.sources.table_stream import register
        register(ctx.spark)
        o = pq.read_table(os.path.join(ctx.data_dir, "orders.parquet"),
                          columns=["o_orderkey", "o_orderstatus",
                                   "o_orderpriority",
                                   "o_totalprice"]).to_pandas()
        orders = {int(k): (s, p, int(round(c * 100))) for k, s, p, c in
                  zip(o.o_orderkey, o.o_orderstatus, o.o_orderpriority,
                      o.o_totalprice)}
        half = len(orders) // 2
        root = os.path.join(ctx.work_dir, "tables")
        st = ctx.state
        st.update(orders=orders, root=root, next_key=half, version=1,
                  versions={}, changes={},
                  rows={k: v for k, v in orders.items() if k < half})
        base = self._orders(ctx)
        main = MuraTable.create(ctx.spark, f"{root}/main",
                                base.filter(F.col("o_orderkey") < half),
                                cdf=True, bloom_cols=["o_orderkey"])
        st["landing"] = MuraTable.create(ctx.spark, f"{root}/landing",
                                         base.limit(0))
        st["view"] = IncrementalAggView.create(
            ctx.spark, f"{root}/view", main, keys=["o_orderpriority"],
            aggs={"n_orders": ("count", "o_orderkey"),
                  "total_price": ("sum", "p")})
        st["main"] = main
        ctx.ms.create_external_table("bench_orders", main.path,
                                     file_type="mura")
        data = sum(os.path.getsize(os.path.join(main.path, f))
                   for f in main._manifest()["files"])
        st["bytes_per_row"] = data / len(st["rows"])
        self._snapshot(st)

    # -- replay -------------------------------------------------------------

    @staticmethod
    def _snapshot(st: dict) -> None:
        rows = st["rows"]
        st["versions"][st["version"]] = (
            len(rows), sum(v[2] for v in rows.values()))

    @classmethod
    def _commit(cls, st: dict, ins: int = 0, upd: int = 0) -> None:
        st["version"] += 1
        st["changes"][st["version"]] = (ins, upd)
        cls._snapshot(st)

    @staticmethod
    def _orders(ctx: Ctx):
        from pyspark.sql import functions as F

        from mura_spark.suite.common import table
        return (table(ctx.spark, ctx.data_dir, "orders")
                .select("o_orderkey", "o_orderstatus", "o_orderpriority",
                        F.col("o_totalprice").cast("decimal(18,2)")
                        .alias("p")))

    # -- one cycle ----------------------------------------------------------

    def pass_ops(self, ctx: Ctx, i: int) -> list[Op]:
        """The ops of cycle ``i``. Their parameters come from the seed and
        the replayed state, never from timing, so a cycle is the same ops
        in every run of a seed."""
        from pyspark.sql import functions as F
        st = ctx.state
        if st["next_key"] + BATCH + UPSERT // 2 > len(st["orders"]):
            raise RuntimeError("table commits used up their key pool; run "
                               "fewer cycles or a larger scale factor")
        rng = np.random.default_rng([ctx.seed, i])
        start_v = st["version"]
        land = (st["next_key"], st["next_key"] + BATCH - 1)
        old = sorted(int(k) for k in rng.choice(
            sorted(st["rows"]), UPSERT // 2, replace=False))
        new0 = st["next_key"] + BATCH
        upsert = old + list(range(new0, new0 + UPSERT // 2))
        st["next_key"] = new0 + UPSERT // 2
        key = int(rng.integers(0, new0))

        def append(ctx):
            return st["landing"].append(self._orders(ctx).filter(
                F.col("o_orderkey").between(*land)))

        def after_append(ctx, _):
            st["rec_extra"] = {"user_rows": BATCH}

        def stream(ctx):
            q = (ctx.spark.readStream.format("mura_table")
                 .option("path", st["landing"].path).load()
                 .writeStream.format("mura_table")
                 .option("path", st["main"].path)
                 .option("queryid", "perfbench_landing")
                 .option("checkpointLocation", f"{st['root']}/ckpt")
                 .trigger(availableNow=True).start())
            # the stream's jobs run under its own job group, the run id
            st["rec_extra"] = {"groups": [str(q.runId)]}
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError("stream pass did not finish in 120 s")

        def after_stream(ctx, _):
            for k in range(land[0], land[1] + 1):
                st["rows"][k] = st["orders"][k]
            self._commit(st, ins=BATCH)

        def merge(ctx):
            (self._orders(ctx).filter(F.col("o_orderkey").isin(upsert))
             .withColumn("p", F.when(
                 F.col("o_orderkey").isin(old),
                 (F.col("p") + F.lit(decimal.Decimal("5.00")))
                 .cast("decimal(18,2)")).otherwise(F.col("p")))
             .createOrReplaceTempView("bench_upserts"))
            return ctx.ms.sql(
                "MERGE INTO bench_orders AS t USING bench_upserts AS s "
                "ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *").collect()[0]

        def after_merge(ctx, row):
            rows, upd, ins = st["rows"], 0, 0
            for k in upsert:
                if k in rows:
                    s, p, c = st["orders"][k]
                    rows[k] = (s, p, c + 500)
                    upd += 1
                else:
                    rows[k] = st["orders"][k]
                    ins += 1
            self._commit(st, ins=ins, upd=upd)
            st["rec_extra"] = {"user_rows": UPSERT}
            got = (row["rows_updated"], row["rows_inserted"])
            if got != (upd, ins):
                return f"MERGE updated/inserted {got}, replay {(upd, ins)}"

        def refresh(ctx):
            return st["view"].refresh()

        def after_refresh(ctx, res):
            st["rec_extra"] = {"mode": res.mode}

        def compact(ctx):
            return st["main"].compact()

        def after_compact(ctx, _):
            self._commit(st)

        return [
            Op("append", "commit", "table_format.append", append,
               after_append),
            Op("stream_pass", "commit", "table_stream.pass", stream,
               after_stream),
            Op("merge", "commit", "session.sql", merge, after_merge),
            Op("view_refresh", "commit", "incremental_view.refresh",
               refresh, after_refresh),
            *self._reads(st, start_v, key),
            Op("compact", "commit", "table_format.compact", compact,
               after_compact),
            Op("vacuum", "commit", "table_format.vacuum",
               lambda ctx: st["main"].vacuum(retain_versions=RETAIN)),
        ]

    def _reads(self, st: dict, start_v: int, key: int) -> list:
        from pyspark.sql import functions as F

        def agg(df):
            return df.agg(F.count(F.lit(1)).cast("long").alias("n"),
                          F.sum("p").alias("p"))

        def expect(n, cents):
            def check(ctx, pdf):
                got = (int(pdf["n"][0]),
                       int(decimal.Decimal(pdf["p"][0] or 0) * 100))
                return None if got == (n, cents) else \
                    f"read {got}, replay {(n, cents)}"
            return check

        def lookup_check(ctx, pdf):
            hit = st["rows"].get(key)
            return expect(1, hit[2])(ctx, pdf) if hit else \
                expect(0, 0)(ctx, pdf)

        def cdf_check(ctx, pdf):
            ins = upd = 0
            for v in range(start_v + 1, st["version"] + 1):
                a, b = st["changes"][v]
                ins, upd = ins + a, upd + b
            want = {k: n for k, n in (
                ("insert", ins), ("update_preimage", upd),
                ("update_postimage", upd)) if n}
            got = {t: int(n) for t, n in zip(pdf["_change_type"],
                                              pdf["count"])}
            return None if got == want else \
                f"change feed {got}, replay {want}"

        main = st["main"]
        return [
            Op("read_time_travel", "query", "table_format.read",
               lambda ctx: agg(main.read(version=start_v)),
               lambda ctx, pdf: expect(*st["versions"][start_v])(ctx, pdf)),
            Op("read_lookup", "query", "table_format.read",
               lambda ctx: agg(main.read(lookup={"o_orderkey": key})
                               .filter(F.col("o_orderkey") == key)),
               lookup_check),
            Op("read_change_feed", "query", "table_format.read",
               lambda ctx: main.changes_feed(start_v)
               .groupBy("_change_type").count(),
               cdf_check),
        ]

    def final_check(self, ctx: Ctx) -> list[str]:
        """Head version, head rows and view rows against the replay."""
        from pyspark.sql import functions as F
        st = ctx.state
        errs = []
        head = st["main"]._manifest()["version"]
        if head != st["version"]:
            errs.append(f"head version {head}, replay {st['version']}")
        got = st["main"].read().select(
            "o_orderkey", "o_orderstatus", "o_orderpriority",
            (F.col("p") * 100).cast("long").alias("c")).toPandas()
        rows = {int(k): (s, p, int(c)) for k, s, p, c in zip(
            got.o_orderkey, got.o_orderstatus, got.o_orderpriority, got.c)}
        if len(got) != len(rows) or rows != st["rows"]:
            bad = sorted(k for k in set(rows) | set(st["rows"])
                         if rows.get(k) != st["rows"].get(k))[:3]
            errs.append(f"head rows differ from the replay ({len(got)} vs "
                        f"{len(st['rows'])} rows; e.g. " + ", ".join(
                            f"{k}: {rows.get(k)} vs {st['rows'].get(k)}"
                            for k in bad) + ")")
        want: dict[str, tuple[int, int]] = {}
        for _, prio, c in st["rows"].values():
            n, tot = want.get(prio, (0, 0))
            want[prio] = (n + 1, tot + c)
        view = st["view"].read().toPandas()
        got_view = {p: (int(n), int(decimal.Decimal(t) * 100))
                    for p, n, t in zip(view.o_orderpriority, view.n_orders,
                                       view.total_price)}
        if got_view != want:
            errs.append(f"view {got_view} differs from replay {want}")
        return errs


class Pipeline:
    """The LLM-data queries, then one cycle of table commits, per pass.

    The queries read the generated ``documents`` and ``embeddings``; the
    commits write the versioned table. One timed pass is what the
    run-time budget affords."""

    min_passes = 1

    def __init__(self):
        self.queries = QueryWorkload(
            [_registry_op(n) for n in LLM_PIPELINE], 1)
        self.commits = TableCommits()

    def prepare(self, ctx: Ctx) -> None:
        self.commits.prepare(ctx)

    def warm_op(self) -> Op:
        return self.queries.warm_op()

    def pass_ops(self, ctx: Ctx, i: int) -> list[Op]:
        return self.queries.pass_ops(ctx, i) + self.commits.pass_ops(ctx, i)

    def final_check(self, ctx: Ctx) -> list[str]:
        return self.commits.final_check(ctx)


WORKLOADS = {
    "analytics": lambda: QueryWorkload(
        [_registry_op(n) for n in ANALYTICS] + [_sql_op(), _plan_op()], 5),
    "pipeline": Pipeline,
}
