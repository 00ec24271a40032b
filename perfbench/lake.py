"""Transaction-log traffic.

``LakeUpsert`` (the ``lake_upsert`` workload) replays the ingestion/CDC
commit path on a fresh table per pass; ``LakeSnapshotReads`` (half of
the ``reads`` workload) builds one table with a long log in set-up and
then only reads it. Every operation is checked against a
DuckDB model: the same logical commits, merges, deletes and updates are
applied with SQL to a DuckDB table filled from the source Parquet, and
row counts, exact integer-cent price sums and key sums must agree.
"""

from __future__ import annotations

import functools
import os
import random
import shutil

import duckdb
import pyspark.sql.functions as F

from harness import Bench, tree_bytes

COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
STATE_SQL = (
    "SELECT count(*), coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0), "
    "coalesce(sum(o_orderkey), 0) FROM {}"
)


def spark_state(df) -> tuple[int, int, int]:
    """(rows, integer-cent price sum, key sum) of an orders-shaped frame."""
    r = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")), F.lit(0)),
        F.coalesce(F.sum("o_orderkey"), F.lit(0)),
    ).collect()[0]
    return int(r[0]), int(r[1]), int(r[2])


def sql_pred(where: list[tuple]) -> str:
    return " AND ".join(f"{c} {op} {v!r}" for c, op, v in where) or "TRUE"


class _LakeBase:
    def __init__(self, bench: Bench, ctx):
        self.b = bench
        self.spark = ctx.spark
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        from novlake_spark.sources.tables import load_table

        self.tables = ["orders"]
        self.orders = load_table(self.spark, ctx.data_dir, "orders").select(*COLS)
        self.db = duckdb.connect()
        self.db.execute(f"CREATE VIEW orders AS SELECT {', '.join(COLS)} "
                        f"FROM read_parquet('{ctx.data_dir}/orders.parquet')")
        self.n, self.kmax = self.db.execute("SELECT count(*), max(o_orderkey) FROM orders").fetchone()

    def model_state(self, table: str = "m") -> tuple[int, int, int]:
        return tuple(int(x) for x in self.db.execute(STATE_SQL.format(table)).fetchone())

    def check_rows(self, name: str, t) -> None:
        """Cheap check: live rows of the snapshot's add actions (rows
        minus deletion-vector positions) against the model's count."""
        got = self.b.tamper(name, sum((a.get("rows") or 0) - len(a.get("dv") or []) for a in t.snapshot_adds()))
        want = self.model_state()[0]
        self.b.check(name, got == want, f"live rows {got} != {want}")

    def check_state(self, name: str, df, table: str = "m") -> None:
        got = self.b.tamper(name, spark_state(df))
        want = self.model_state(table)
        self.b.check(name, got == want, f"(rows, cents, keysum) {got} != {want}")

    def chunk(self, lo: int, hi: int):
        """Orders rows with ``lo <= o_orderkey < hi``."""
        return self.orders.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))

    def shifted(self, n: int, offset: int):
        """The first ``n`` orders rows re-keyed to start at ``offset``."""
        return self.chunk(0, n).withColumn("o_orderkey", F.col("o_orderkey") + offset)

    def shifted_sql(self, n: int, offset: int) -> str:
        return f"SELECT o_orderkey + {offset}, * EXCLUDE (o_orderkey) FROM orders WHERE o_orderkey < {n}"

    def count(self, sql: str) -> int:
        return int(self.db.execute(sql).fetchone()[0])


class LakeUpsert(_LakeBase):
    """Ingestion/CDC traffic: each pass builds a fresh table and runs the
    commit path end to end."""

    def __init__(self, bench: Bench, ctx):
        super().__init__(bench, ctx)
        if ctx.traced:  # for the stream tick
            from novlake_spark.sources.txlog_source import register_txlog_source

            register_txlog_source(self.spark)
        self.pass_no = 0
        self.amp: list[tuple[float, float]] = []

    def warmup(self) -> None:
        self.run_pass()

    def run_pass(self) -> None:
        from novlake_spark.lake import Lake
        from novlake_spark.txlog import TxTable

        b, db, rng = self.b, self.db, random.Random(self.ctx.seed * 1000 + self.pass_no)
        self.pass_no += 1
        root = os.path.join(self.ctx.work_dir, f"upsert-{self.pass_no}")
        t = TxTable(self.spark, f"{root}/t")
        db.execute("CREATE OR REPLACE TABLE m AS SELECT * FROM orders WHERE false")
        appended: list[int] = []  # versions of pure append commits

        def commit(df, model_rows: str, name: str = "commit"):
            """Append ``df``; ``model_rows`` selects the same rows in DuckDB."""
            rows = self.count(f"SELECT count(*) FROM ({model_rows})")
            v = b.op(name, lambda: t.commit(df), rows=rows, layer="txlog.commit_ms")
            if v is not None:
                appended.append(v)
                self._count_files(t, v)
            db.execute(f"INSERT INTO m {model_rows}")
            self.check_rows(name, t)

        # three disjoint key-range commits; each later DML targets a
        # seeded range inside one chunk, so every seed touches the same
        # files and only the rows differ. The merge takes the last chunk:
        # its new keys lie just past it, so the source's key range
        # overlaps that chunk's files only.
        third = (self.kmax + 1) // 3
        bounds = [0, third, 2 * third, self.kmax + 1]
        span = max(1, self.n // 100)

        def inside(chunk: int) -> int:
            return bounds[chunk] + rng.randrange(0, bounds[chunk + 1] - bounds[chunk] - span)

        for lo, hi in zip(bounds, bounds[1:]):
            commit(self.chunk(lo, hi).repartition(2),
                   f"SELECT * FROM orders WHERE o_orderkey >= {lo} AND o_orderkey < {hi}")
        self.check_state("commit", t.read())
        if self.ctx.traced:
            self.stream_tick(root)

        # 1% upsert: doubled prices on a seeded key range plus new keys
        lo = inside(2)
        new_lo = self.kmax + 1
        n_new = max(1, span // 4)
        delta = self.chunk(lo, lo + span).withColumn("o_totalprice", F.col("o_totalprice") * 2).unionByName(
            self.shifted(n_new, new_lo)
        )
        matched = self.count(f"SELECT count(*) FROM m WHERE o_orderkey >= {lo} AND o_orderkey < {lo + span}")
        mv = b.op("merge", lambda: t.merge(delta, key=["o_orderkey"]), rows=matched + n_new, layer="txlog.merge_ms")
        db.execute(f"UPDATE m SET o_totalprice = o_totalprice * 2 WHERE o_orderkey >= {lo} AND o_orderkey < {lo + span}")
        db.execute(f"INSERT INTO m {self.shifted_sql(n_new, new_lo)}")
        self.check_state("merge", t.read())
        self._count_files(t, mv, changed=matched + n_new)

        # change feed of the merge commit: it re-inserts the rewritten
        # files' rows, so inserts minus deletes is the rows the merge added
        if mv is not None:
            def changes():
                return dict(t.changes(mv - 1, mv).groupBy("_change_type").count().collect())

            got = b.op("changes", changes, rows=lambda r: sum((r or {}).values()), layer="txlog.changes_ms")
            if got is not None:
                got = b.tamper("changes", got)
                net = got.get("insert", 0) - got.get("delete", 0)
                b.check("changes", net == n_new and got.get("delete", 0) >= matched,
                        f"{got}: net {net} != {n_new} new keys or fewer than {matched} replaced")

        # scoped DML, copy-on-write and with deletion vectors
        for name, dv, chunk in (("delete", False, 0), ("delete_dv", True, 1)):
            a = inside(chunk)
            where = [("o_orderkey", ">=", a), ("o_orderkey", "<", a + span)]
            gone = self.count(f"SELECT count(*) FROM m WHERE {sql_pred(where)}")
            v = b.op(name, lambda: t.delete(where, dv=dv), rows=gone, layer=f"txlog.{name}_ms")
            db.execute(f"DELETE FROM m WHERE {sql_pred(where)}")
            self.check_rows(name, t)
            self._count_files(t, v, changed=gone)
        for name, dv, chunk in (("update", False, 1), ("update_dv", True, 0)):
            a = inside(chunk)
            where = [("o_orderkey", ">=", a), ("o_orderkey", "<", a + span)]
            hit = self.count(f"SELECT count(*) FROM m WHERE {sql_pred(where)}")
            v = b.op(name, lambda: t.update({"o_totalprice": "o_totalprice + 1"}, where, dv=dv),
                     rows=hit, layer=f"txlog.{name}_ms")
            db.execute(f"UPDATE m SET o_totalprice = o_totalprice + 1 WHERE {sql_pred(where)}")
            self.check_rows(name, t)
            self._count_files(t, v, changed=hit)

        # constraint-guarded append of fresh keys
        t.add_constraint("price_pos", "o_totalprice > 0")
        g_lo = new_lo + n_new
        commit(self.shifted(span, g_lo), self.shifted_sql(span, g_lo), "guarded_append")

        if self.ctx.traced:
            b.op("optimize", lambda: t.optimize(zorder_by=["o_orderkey", "o_custkey"], target_files=4),
                 rows=lambda _: self.model_state()[0], layer="txlog.optimize_ms")
            self.check_rows("optimize", t)
        b.op("checkpoint", lambda: t.checkpoint(), layer="txlog.checkpoint_ms")
        # a fresh handle resolves state from the checkpoint: full data check
        self.check_state("checkpoint", TxTable(self.spark, f"{root}/t").read())
        if self.ctx.traced:
            self.mview(t, root, commit, g_lo + span)

        # amplification of the table root, before the lake-facade copies
        appended_bytes = sum(self._add_bytes(t, v) for v in appended)
        live = sum(os.path.getsize(f"{root}/t/data/{f}") for f in t.snapshot_files())
        on_disk = tree_bytes(f"{root}/t")
        if b.timing:
            self.amp.append((on_disk / appended_bytes, on_disk / live))

        # the Lake facade: replace a table, append to it, query it
        lake = Lake(self.spark)
        snap = t.read()
        n_small = max(1, span // 4)
        b.op("lake_replace_table", lambda: lake.replace_table(snap, "perfbench_lk", f"{root}/lk"),
             rows=lambda _: self.model_state()[0], layer="lake.replace_table_ms")
        b.op("lake_append", lambda: lake.append(self.chunk(0, n_small), "perfbench_lk", f"{root}/lk"), rows=n_small)
        db.execute(f"CREATE OR REPLACE TABLE lk AS SELECT * FROM m UNION ALL "
                   f"SELECT * FROM orders WHERE o_orderkey < {n_small}")
        got = b.op("lake_query", lambda: lake.query(
            "SELECT count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT)), sum(o_orderkey) "
            "FROM perfbench_lk").collect()[0], rows=lambda _: self.model_state("lk")[0], layer="lake.query_ms")
        if got is not None:
            got = b.tamper("lake_query", tuple(int(x) for x in got))
            want = self.model_state("lk")
            b.check("lake_query", got == want, f"{got} != {want}")
        shutil.rmtree(root, ignore_errors=True)

    def stream_tick(self, root: str) -> None:
        """One availableNow tick, txlog source -> txlog sink, over the
        append-only table: the sink must hold exactly the table."""
        def tick():
            q = (
                self.spark.readStream.format("txlog").option("path", f"{root}/t").load()
                .writeStream.format("txlog").option("path", f"{root}/pipe")
                .option("txnAppId", "perfbench").option("checkpointLocation", f"{root}/cp")
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

        self.b.op("stream_tick", tick, rows=self.model_state()[0], layer="stream.tick_ms")
        with self.b.layer_span("txlog_source.read_ms"):
            pipe = self.spark.read.format("txlog").option("path", f"{root}/pipe").load()
        self.check_state("stream_tick", pipe)

    def mview(self, t, root: str, commit, key_lo: int) -> None:
        """Incremental view: full build, one small source commit, then an
        incremental refresh; contents checked against a DuckDB group-by."""
        from novlake_spark.mview import IncrementalAggView

        view = IncrementalAggView(t, f"{root}/mv", keys=["o_custkey"],
                                  measures={"spend": ("sum", "o_totalprice"), "n": ("count",)})
        self.b.op("mview_build", view.refresh, rows=lambda _: self.model_state()[0], layer="mview.refresh_ms")
        self.check_view("mview_build", view)
        n = max(1, self.n // 400)
        commit(self.shifted(n, key_lo), self.shifted_sql(n, key_lo))
        self.b.op("mview_refresh", view.refresh, rows=n, layer="mview.refresh_ms")
        self.check_view("mview_refresh", view)

    def check_view(self, name: str, view) -> None:
        got = self.b.tamper(name, view.read().agg(
            F.count(F.lit(1)), F.sum("n"),
            F.sum(F.round(F.col("spend") * 100).cast("long")),
            F.sum(F.col("o_custkey") * F.col("n")),
        ).collect()[0])
        want = self.db.execute(
            "SELECT count(*), sum(n), sum(round(spend * 100)), sum(o_custkey * n) FROM ("
            "SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS spend FROM m GROUP BY o_custkey)"
        ).fetchone()
        got, want = tuple(int(x) for x in got), tuple(int(x) for x in want)
        self.b.check(name, got == want, f"(groups, rows, cents, weighted keys) {got} != {want}")

    def _add_bytes(self, t, version: int) -> int:
        entry = next(e for e in t.history() if e["version"] == version)
        return sum(os.path.getsize(f"{t.path}/data/{a['file']}") for a in entry.get("add", []))

    def _count_files(self, t, version, changed: int | None = None) -> None:
        if not self.b.traced or version is None:
            return
        entry = next((e for e in t.history() if e["version"] == version), None)
        if entry is None:
            return
        adds = entry.get("add", [])
        self.b.record("txlog.files_added", len(adds))
        self.b.record("txlog.files_removed", len(entry.get("remove", [])))
        self.b.record("txlog.bytes_written", self._add_bytes(t, version))
        if changed:
            self.b.record("txlog.rewrite_ratio", sum(a.get("rows") or 0 for a in adds) / changed)

    def amplification(self) -> tuple[list[float], list[float]]:
        return [w for w, _ in self.amp], [s for _, s in self.amp]


class LakeSnapshotReads(_LakeBase):
    """Read-only traffic over one table with a long log: log replay,
    checkpoints and file skipping, with zero writes in the timed passes."""

    N_COMMITS = 6
    WIDTH = 400  # keys per range read

    def __init__(self, bench: Bench, ctx):
        super().__init__(bench, ctx)
        from novlake_spark.sources.txlog_source import register_txlog_source
        from novlake_spark.txlog import TxTable

        register_txlog_source(self.spark)
        self.root = os.path.join(ctx.work_dir, "reads")
        t = self.t = TxTable(self.spark, f"{self.root}/t")
        db = self.db
        db.execute("CREATE OR REPLACE TABLE m AS SELECT *, -1 AS v_add, 1 << 30 AS v_del FROM orders WHERE false")
        self.counts: dict[int, int] = {}
        self.appends: dict[int, int] = {}  # pure-append version -> rows
        step = (self.kmax + 1) // self.N_COMMITS + 1
        for i in range(self.N_COMMITS):
            lo, hi = i * step, (i + 1) * step
            v = t.commit(self.chunk(lo, hi).repartition(2))
            db.execute(f"INSERT INTO m SELECT *, {v}, 1 << 30 FROM orders "
                       f"WHERE o_orderkey >= {lo} AND o_orderkey < {hi}")
            self._note(v)
            self.appends[v] = self.counts[v] - self.counts.get(v - 1, 0)
        t.checkpoint()
        # DML removes on top of the checkpoint: a copy-on-write and a
        # deletion-vector delete, each inside one commit's files
        for chunk, dv in ((2, False), (self.N_COMMITS - 3, True)):
            a = chunk * step + self.rng.randrange(0, step - step // 3)  # inside one commit's files
            where = [("o_orderkey", ">=", a), ("o_orderkey", "<", a + step // 3)]
            v = t.delete(where, dv=dv)
            db.execute(f"UPDATE m SET v_del = {v} WHERE v_del > {v} AND {sql_pred(where)}")
            self._note(v)
        for i in range(2):  # a short tail after the DML
            lo = self.kmax + 1 + i * step
            v = t.commit(self.shifted(step, lo))
            db.execute(f"INSERT INTO m SELECT *, {v}, 1 << 30 FROM ({self.shifted_sql(step, lo)})")
            self._note(v)
            self.appends[v] = self.counts[v] - self.counts[v - 1]
        self.latest = t.latest_version()
        self.key_hi = self.kmax + 2 * step
        self.pass_no = 0
        if ctx.traced:
            bench.record("txlog.log_versions", len(t.versions()))

    def _note(self, v: int) -> None:
        self.counts[v] = self.count(f"SELECT count(*) FROM m WHERE v_add <= {v} AND v_del > {v}")

    def expect(self, where: list[tuple], v: int | None = None) -> int:
        v = self.latest if v is None else v
        return self.count(f"SELECT count(*) FROM m WHERE v_add <= {v} AND v_del > {v} AND {sql_pred(where)}")

    def warmup(self) -> None:
        for op in self.pass_ops():
            op()

    def pass_ops(self) -> list:
        """One pass: each operation a thunk that runs it and checks its
        output. Seeded point and range reads, time travel, single-commit
        change-feed tails, ``format("txlog")`` reads with a pushed filter
        and snapshot replays at the latest and an old version."""
        rng = random.Random(self.ctx.seed * 1000 + self.pass_no)
        self.pass_no += 1
        ops = []
        # fixed widths and mid-log versions keep each operation's row
        # count alike across seeds; the seed picks keys and offsets
        for _ in range(3):
            k = rng.randrange(0, self.key_hi)
            ops.append(functools.partial(self.read, "point_read", [("o_orderkey", "=", k)]))
            a = rng.randrange(0, self.key_hi - self.WIDTH)
            ops.append(functools.partial(self.read, "range_read", [("o_orderkey", ">=", a), ("o_orderkey", "<", a + self.WIDTH)]))
        ops.append(functools.partial(self.timetravel, self.latest // 2 + rng.randrange(-1, 2)))
        ops.append(functools.partial(self.changes_tail, rng.choice(sorted(self.appends)[1:])))
        ops.append(functools.partial(self.format_read, rng.randrange(0, self.key_hi - self.WIDTH)))
        ops.append(functools.partial(self.snapshot, "snapshot_adds_latest", None))
        ops.append(functools.partial(self.snapshot, "snapshot_adds_old", rng.randrange(0, self.latest)))
        return ops

    def read(self, name: str, where: list[tuple]) -> None:
        b, t = self.b, self.t

        def run():
            with b.layer_span("txlog.read_pruned_ms"):
                df = t.read(where=where)
            return df.count()

        got = b.op(name, run, rows=lambda n: n or 0)
        if b.traced and b.timing:
            plan = t.scan_plan(where)
            b.record("txlog.files_scanned_ratio", plan["scanned"] / max(1, plan["total"]))
        if got is not None:
            want = self.expect(where)
            got = b.tamper(name, got)
            b.check(name, got == want, f"{where}: {got} != {want}")

    def timetravel(self, v: int) -> None:
        b = self.b

        def run():
            with b.layer_span("txlog.timetravel_ms"):
                df = self.t.read(version=v)
            return df.count()

        got = b.op("timetravel", run, rows=lambda n: n or 0)
        if got is not None:
            got = b.tamper("timetravel", got)
            b.check("timetravel", got == self.counts[v], f"v{v}: {got} != {self.counts[v]}")

    def changes_tail(self, v: int) -> None:
        b = self.b

        def run():
            with b.layer_span("txlog.changes_ms"):
                df = self.t.changes(v - 1, v)
            return dict(df.groupBy("_change_type").count().collect())

        got = b.op("changes_tail", run, rows=lambda r: sum((r or {}).values()))
        if got is not None:
            got = b.tamper("changes_tail", got)
            b.check("changes_tail", got == {"insert": self.appends[v]}, f"v{v}: {got}")

    def format_read(self, a: int) -> None:
        b = self.b

        def run():
            with b.layer_span("txlog_source.read_ms"):
                df = self.spark.read.format("txlog").option("path", f"{self.root}/t").load()
            return df.filter((F.col("o_orderkey") >= a) & (F.col("o_orderkey") < a + self.WIDTH)).count()

        got = b.op("txlog_format_read", run, rows=lambda n: n or 0)
        if got is not None:
            want = self.expect([("o_orderkey", ">=", a), ("o_orderkey", "<", a + self.WIDTH)])
            got = b.tamper("txlog_format_read", got)
            b.check("txlog_format_read", got == want, f"[{a}, {a + self.WIDTH}): {got} != {want}")

    def snapshot(self, name: str, v: int | None) -> None:
        b = self.b

        def run():
            with b.layer_span("txlog.snapshot_ms"):
                return self.t.snapshot_adds(v)

        adds = b.op(name, run)
        if adds is not None:
            live = b.tamper(name, sum((a.get("rows") or 0) - len(a.get("dv") or []) for a in adds))
            want = self.counts[self.latest if v is None else v]
            b.check(name, live == want, f"v{v}: live rows {live} != {want}")

    def amplification(self) -> tuple[list[float], list[float]]:
        from novlake_spark.txlog import TxTable

        t = TxTable(self.spark, f"{self.root}/t")
        hist = t.history()
        appended = sum(
            os.path.getsize(f"{t.path}/data/{a['file']}")
            for e in hist if e["version"] in self.appends for a in e.get("add", [])
        )
        live = sum(os.path.getsize(f"{t.path}/data/{f}") for f in t.snapshot_files())
        on_disk = tree_bytes(f"{self.root}/t")
        return [on_disk / appended], [on_disk / live]
