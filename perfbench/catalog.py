"""The ``ops_catalog`` workload: one pass over a fixed roster of heavy
catalog entries, each materialized to the noop sink. The warm-up pass
collects every entry instead, and those rows are checked against the
entry's DuckDB oracle (untimed)."""

from __future__ import annotations

import datetime
import hashlib
import math
import time
from concurrent.futures import ThreadPoolExecutor

from spark_expectations_spark import queries

from . import datagen

#: (catalog entry, layer it exercises)
ROSTER = (
    ("part_copurchase_triangles", "operators.graph"),
    ("docs_weighted_cosine", "operators.linkage"),
    ("docs_set_jaccard_join", "operators.linkage"),
    ("dedup_minhash_md5", "operators.dedup"),
    ("docs_dedup_pipeline", "operators.dedup"),
    ("embed_semdedup", "operators.similarity"),
)

ORACLE_TABLES = ("documents", "embeddings", "lineitem")

#: the roster's tables do not vary with the run's seed: like fixture
#: tables, they are one fixed input, so run-to-run spread is the host's
TABLE_SEED = 42


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def fingerprint(cols, rows) -> tuple[int, str]:
    """Row count and an order-independent checksum (columns by name)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


class OpsCatalog:
    def __init__(self, spark, tracer, work: str, n_docs: int, n_vecs: int,
                 n_lines: int, files: int):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.sizes = dict(n_docs=n_docs, n_vecs=n_vecs, n_lines=n_lines)
        self.files = files
        self.dir = f"{work}/tables"
        self.got: dict[str, tuple[int, str]] = {}
        #: per layer: RDDs an entry left persisted after its pass, summed
        #: over the timed passes
        self.leaked_rdds = dict.fromkeys((layer for _, layer in ROSTER), 0)
        self.entry_s: dict[str, list[float]] = {name: [] for name, _ in ROSTER}

    def setup(self) -> None:
        datagen.write_catalog_tables(self.spark, self.dir, TABLE_SEED,
                                     files=self.files, **self.sizes)

        def collect(name):
            sdf = queries.QUERIES[name](self.spark, self.dir)
            return name, fingerprint(sdf.columns, [tuple(r) for r in sdf.collect()])

        # the cold pass is driver-bound (planning, code generation), so
        # entries compile side by side
        with ThreadPoolExecutor(3) as pool:
            self.got = dict(pool.map(collect, [name for name, _ in ROSTER]))
        self.release()

    def run_pass(self) -> float:
        """Seconds of one pass: the sum of its entries' times. Between
        entries, untimed, what the entry left persisted is counted against
        its layer and freed, so every entry starts from the same state."""
        total = 0.0
        for name, layer in ROSTER:
            t0 = time.perf_counter()
            try:
                with self.tracer.span(layer, name):
                    queries.QUERIES[name](self.spark, self.dir).write.format(
                        "noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
            finally:
                self.leaked_rdds[layer] += self.release()
            self.entry_s[name].append(dt)
            total += dt
        return total

    def release(self) -> int:
        """Clear the cache; free and count the RDDs still persisted (the
        ``localCheckpoint`` frames some entries never unpersist)."""
        self.spark.catalog.clearCache()
        left = list(self.spark.sparkContext._jsc.getPersistentRDDs().values())
        for rdd in left:
            rdd.unpersist(True)
        return len(left)

    def check(self, corrupt: bool = False) -> list[str]:
        """The warm-up pass's rows against each entry's DuckDB oracle."""
        import duckdb
        con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
        try:
            for t in ORACLE_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.dir}/{t}.parquet/*.parquet')")
            problems = []
            for name, _ in ROSTER:
                cur = con.execute(queries.ORACLES[name])
                want = fingerprint([d[0] for d in cur.description], cur.fetchall())
                if corrupt:
                    want = (want[0] + 1, want[1])
                got = self.got[name]
                if got != want:
                    problems.append(f"{name}: rows {got[0]} vs oracle {want[0]}"
                                    + ("" if got[0] != want[0] else ", checksum differs"))
            return problems
        finally:
            con.close()
