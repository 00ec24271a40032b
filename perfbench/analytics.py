"""Analyst traffic for the ``reads`` workload: registry keys with a full
DuckDB oracle.

Each timed operation plans one key through ``__spark_entry__.queries()``
and runs it into the ``noop`` sink. The warm-up pass collects every
key's result instead and compares it with the key's oracle SQL run by
DuckDB over the same Parquet files, using the type-faithful canonical
hash of ``tools/verify_local.py``.
"""

from __future__ import annotations

import functools
import os

import duckdb
import pyarrow.parquet as pq

from harness import Bench

#: Analyst read traffic: scans, joins, windows, as-of joins. JVM-,
#: Catalyst- and shuffle-bound, no Python workers, no writes.
SQL_KEYS = ["q_agg_groupby", "q_tpch_q5", "q_join_asof", "q_scan_events_ts"]
#: Corpus curation operators: Python workers and Arrow exchange.
CORPUS_KEYS = ["q_llm_gopher_rules", "q_llm_pii_scrub", "q_html_extract", "q_llm_knn_join"]
KEYS = SQL_KEYS + CORPUS_KEYS


class Analytics:
    def __init__(self, bench: Bench, ctx):
        import __spark_entry__ as entry
        from tools.verify_local import canon_hash, unhashable_cells

        self.b, self.ctx, self.spark = bench, ctx, ctx.spark
        self.qs, self.oracles = entry.queries(), entry.oracle_sql()
        self._canon_hash, self._unhashable = canon_hash, unhashable_cells
        missing = [k for k in KEYS if k not in self.oracles]
        if missing:
            raise KeyError(f"no oracle for {missing}")
        self.db = duckdb.connect()
        self.table_rows = {}
        for name in sorted(os.listdir(ctx.data_dir)):
            table = name.removesuffix(".parquet")
            path = os.path.join(ctx.data_dir, name)
            self.db.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            self.table_rows[name] = pq.ParquetFile(path).metadata.num_rows
        self.rows: dict[str, int] = {}
        self.tables: set[str] = set()

    def warmup(self) -> None:
        """Collect every key once and check it against its oracle; note
        each key's input rows from the footers of the files it reads."""
        for k in KEYS:
            def collect(k=k):
                df = self.qs[k](self.spark, self.ctx.data_dir)
                files = [os.path.basename(f) for f in df.inputFiles()]
                self.rows[k] = sum(self.table_rows.get(f, 0) for f in files)
                self.tables.update(f.removesuffix(".parquet") for f in files)
                return df.toPandas()

            got = self.b.op(k, collect)
            if got is not None:
                self.compare(k, self.b.tamper(k, got))

    def compare(self, key: str, sdf) -> None:
        odf = self.db.execute(self.oracles[key]).fetchdf()
        problems = []
        bad = self._unhashable(sdf)
        if bad:
            problems.append(f"unhashable cells in {bad}")
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        else:
            kinds = [c for c in sdf.columns if sdf[c].dtype.kind != odf[c].dtype.kind]
            if kinds:
                problems.append(f"dtype kind differs in {kinds}")
            elif not bad and self._canon_hash(sdf) != self._canon_hash(odf):
                problems.append("hash mismatch")
        self.b.check(key, not problems, "; ".join(problems))

    def pass_ops(self) -> list:
        """One pass: every key planned and run into the ``noop`` sink."""
        return [functools.partial(self.run_key, k) for k in KEYS]

    def run_key(self, key: str) -> None:
        def run():
            with self.b.layer_span("inventory.plan_ms"):
                df = self.qs[key](self.spark, self.ctx.data_dir)
            df.write.format("noop").mode("overwrite").save()

        self.b.op(key, run, rows=self.rows[key])
