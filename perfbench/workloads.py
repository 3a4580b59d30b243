"""The benchmark's workloads. Each drives the engine only through its
public functions and is timed from outside.

A workload has a batch operation (a pipeline run over its whole input)
and a request operation (one short interactive call); ``run.py`` times
a batch phase and then a closed-loop request phase. ``check`` compares
every recorded output with a DuckDB oracle after the timed phases.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from measure import hash_frame, hash_rows

TPCH_SF = 0.01
N_DOCS = 1000
SEARCH_PROBES, SEARCH_K, SEARCH_NPROBE = 4, 5, 4


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    files = [
        p
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(("_", "."))
    ]
    return sum(os.path.getsize(p) for p in files), len(files)


def _row_counts(build_dir: str) -> dict[str, int]:
    return {
        os.path.basename(p): pq.ParquetDataset(p).read(columns=[]).num_rows
        for p in sorted(glob.glob(os.path.join(build_dir, "*")))
    }


class Workload:
    """Shared plumbing: the session, tracer, scratch dir and seeded rng."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.rng = np.random.default_rng([ctx.seed, 3])
        self.batch_outputs: list = []
        self.request_outputs: list = []
        self.layer_extra: dict[str, float] = {}

    def span(self, name: str, **kw):
        return self.tracer.span(name, **kw)

    def start_requests(self) -> None:
        """Called once between the batch and the request phase."""


# ---------------------------------------------------------------------------
# warehouse: raw zone -> star schema -> parquet, then SQL over it
# ---------------------------------------------------------------------------

def _date_id(day: np.datetime64) -> int:
    y, m, d = str(day).split("-")
    return int(y) * 10000 + int(m) * 100 + int(d)


class Warehouse(Workload):
    """Batch: read the raw zone, build the ~22-table star schema and
    write it as parquet (one fresh directory per build). Requests: a
    seeded SQL mix over the last build plus the TPC-H-shaped tables."""

    def setup(self) -> None:
        from build_datawarehouse_demo_spark.sources.readers import register_star_views

        ctx = self.ctx
        self.src = os.path.join(ctx.tmp, "src")
        self.raw = os.path.join(ctx.tmp, "raw")
        tables = gen.tpch_tables(ctx.seed, TPCH_SF)
        gen.write_tables(tables, self.src)
        self.raw_rows, self.raw_bytes = gen.write_raw_zone(gen.yelp_raw_zone(tables), self.raw)
        self.n_business = tables["part"].num_rows
        register_star_views(self.spark, self.src, names=gen.TPCH_TABLES)

        self.builds = 0
        # warm-up: one build and one pass over every query template
        self.batch()
        for _, q in self._queries():
            self.spark.sql(q).collect()
        self.batch_outputs.clear()

    # -- batch ---------------------------------------------------------------
    def batch(self) -> int:
        from build_datawarehouse_demo_spark.plans.star_schema import build_warehouse
        from build_datawarehouse_demo_spark.sources.readers import read_csv, read_json_lines
        from build_datawarehouse_demo_spark.sources.writers import save_tables_concurrent

        out = os.path.join(self.ctx.tmp, "wh", f"build{self.builds}")
        self.builds += 1
        with self.span("readers"):
            raw = {
                name: (read_csv if name in gen.RAW_CSV else read_json_lines)(
                    self.spark, os.path.join(self.raw, name), schema
                )
                for name, schema in gen.RAW_SCHEMAS.items()
            }
        with self.span("star_schema.build_warehouse"):
            wh = build_warehouse(self.spark, raw)
        with self.span("writers.save_tables_concurrent"):
            save_tables_concurrent(wh, base_path=out, max_workers=self.ctx.cores)
        self.batch_outputs.append(out)
        nbytes, nfiles = _dir_bytes(out)
        writer = "writers.save_tables_concurrent"
        self.layer_extra[f"{writer}.output_files"] = nfiles
        self.layer_extra[f"{writer}.output_bytes_per_input_byte"] = nbytes / self.raw_bytes
        return self.raw_rows

    # -- requests ------------------------------------------------------------
    def _queries(self) -> list[tuple[int, str]]:
        """One pass over the mix: every template once, in a seeded
        order, each with seeded parameters."""
        return [(int(i), _TEMPLATES[i](self.rng, self)) for i in self.rng.permutation(len(_TEMPLATES))]

    def start_requests(self) -> None:
        self.pending: list[tuple[int, str]] = []

    def request(self) -> int:
        """Run the next query of the mix; returns its template index."""
        if not self.pending:
            self.pending = self._queries()
        kind, q = self.pending.pop()
        with self.span("sql"):
            with self.span("sql.analyze"):
                df = self.spark.sql(q)
            with self.span("sql.execute"):
                rows = df.collect()
        self.request_outputs.append((q, hash_rows(df.columns, rows), len(rows)))
        return kind

    # -- checks --------------------------------------------------------------
    def check(self) -> list[str]:
        from build_datawarehouse_demo_spark.registry_round7 import (
            _STAR_ORACLE,
            _summarize_warehouse,
        )

        fails = []
        con = duckdb.connect()
        for t in ("part", "customer", "orders", "lineitem", "supplier", "nation", "region"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.src}/{t}.parquet'")
        # the full summary check on the last build; earlier builds must
        # match its per-table row counts (parquet footers, no Spark job)
        want = hash_frame(con.execute(_STAR_ORACLE).fetchdf())
        last = self.batch_outputs[-1]
        tables = {
            os.path.basename(p): self.spark.read.parquet(p)
            for p in sorted(glob.glob(os.path.join(last, "*")))
        }
        if hash_frame(_summarize_warehouse(tables).toPandas()) != want:
            fails.append(f"warehouse summary mismatch in {os.path.basename(last)}")
        counts = _row_counts(last)
        for out in self.batch_outputs[:-1]:
            if _row_counts(out) != counts:
                fails.append(f"warehouse row counts differ in {os.path.basename(out)}")
        if self.request_outputs:
            for p in sorted(glob.glob(os.path.join(last, "*"))):
                con.execute(
                    f"CREATE VIEW {os.path.basename(p)} AS SELECT * FROM read_parquet('{p}/*.parquet')"
                )
            oracle: dict[str, tuple] = {}
            for q, got, _ in self.request_outputs:
                if q not in oracle:
                    cur = con.execute(q)
                    cols = [d[0] for d in cur.description]
                    oracle[q] = hash_rows(cols, cur.fetchall())
                if got != oracle[q]:
                    fails.append(f"sql mismatch: {' '.join(q.split())[:120]}")
        return fails


_PRICE = "CAST(round(l_extendedprice * 100) AS BIGINT)"
_DISC = "CAST(round(l_discount * 100) AS BIGINT)"
_TAX = "CAST(round(l_tax * 100) AS BIGINT)"


def _skewed_business(rng, wl) -> str:
    return f"b{min(int(rng.zipf(1.3)) - 1, wl.n_business - 1)}"


def _date_window(rng) -> tuple[int, int]:
    start = np.datetime64("1995-01-01") + int(rng.integers(0, 2000))
    return _date_id(start), _date_id(start + int(rng.integers(30, 365)))


def _tpch_q3(rng) -> str:
    day = np.datetime64("1995-03-15") + int(rng.integers(0, 2000))
    return f"""
        SELECT l_orderkey, sum({_PRICE} * (100 - {_DISC})) AS revenue,
               year(o_orderdate) * 10000 + month(o_orderdate) * 100 + day(o_orderdate) AS orderday
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = '{gen.SEGMENTS[int(rng.integers(0, 5))]}'
          AND o_orderdate < TIMESTAMP '{day}' AND l_shipdate > TIMESTAMP '{day}'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, orderday, l_orderkey LIMIT 10"""


def _tpch_q6(rng) -> str:
    year = 1995 + int(rng.integers(0, 6))
    disc = int(rng.integers(2, 10))
    return f"""
        SELECT sum({_PRICE} * {_DISC}) AS revenue, count(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{year}-01-01' AND l_shipdate < TIMESTAMP '{year + 1}-01-01'
          AND {_DISC} BETWEEN {disc - 1} AND {disc + 1} AND l_quantity < 24"""


# Every template returns SQL that Spark and DuckDB both parse with the
# same meaning; outputs avoid DATE/DECIMAL columns and surrogate ids,
# and sums of money are exact integers (cents), so both engines agree
# to the last digit whatever their summation order.
_TEMPLATES = (
    # point lookups on skewed business ids
    lambda rng, wl: f"""
        SELECT business_id, name, city, state, stars, review_count
        FROM dim_business WHERE business_id = '{_skewed_business(rng, wl)}'""",
    lambda rng, wl: f"""
        SELECT count(*) AS n, avg(stars) AS avg_stars, sum(useful) AS useful
        FROM fact_reviews WHERE business_id = '{_skewed_business(rng, wl)}'""",
    # date-range scan through the datetime dim
    lambda rng, wl: """
        SELECT count(*) AS n, sum(r.useful) AS useful, avg(r.stars) AS avg_stars
        FROM fact_reviews r JOIN dim_datetime d ON r.datetime_id = d.datetime_id
        WHERE d.date_id BETWEEN {} AND {}""".format(*_date_window(rng)),
    # star joins + group-by over broadcast-sized dims
    lambda rng, wl: f"""
        SELECT b.city, d.year, count(*) AS n, avg(r.stars) AS avg_stars
        FROM fact_reviews r
        JOIN dim_business b ON r.business_id = b.business_id
        JOIN dim_datetime d ON r.datetime_id = d.datetime_id
        WHERE b.state = 'S{int(rng.integers(0, 5))}'
        GROUP BY b.city, d.year""",
    lambda rng, wl: f"""
        SELECT c.category_name, count(*) AS n, sum(r.cool) AS cool
        FROM fact_reviews r
        JOIN fact_business_categories bc ON r.business_id = bc.business_id
        JOIN dim_category c ON bc.category_id = c.category_id
        WHERE r.stars >= {int(rng.integers(1, 6))}
        GROUP BY c.category_name""",
    # fact-fact joins
    lambda rng, wl: f"""
        SELECT r.stars, count(*) AS pairs, sum(t.compliment_count) AS compliments
        FROM fact_reviews r JOIN fact_tips t ON r.business_id = t.business_id
        WHERE t.compliment_count > {int(rng.integers(0, 40))}
        GROUP BY r.stars""",
    lambda rng, wl: """
        SELECT d.year, count(*) AS pairs
        FROM fact_checkins c
        JOIN fact_reviews r ON c.business_id = r.business_id
        JOIN dim_datetime d ON c.datetime_id = d.datetime_id
        WHERE r.stars >= {}
        GROUP BY d.year""".format(int(rng.integers(1, 6))),
    # window top-k
    lambda rng, wl: f"""
        SELECT state, business_id, n FROM (
          SELECT b.state, r.business_id, count(*) AS n,
                 row_number() OVER (PARTITION BY b.state
                                    ORDER BY count(*) DESC, r.business_id) AS rk
          FROM fact_reviews r JOIN dim_business b ON r.business_id = b.business_id
          WHERE r.stars >= {int(rng.integers(1, 5))}
          GROUP BY b.state, r.business_id) t
        WHERE rk <= {int(rng.integers(1, 6))}""",
    # TPC-H q1, q3, q5, q6 (money in exact integer cents)
    lambda rng, wl: f"""
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
               sum({_PRICE}) AS sum_base_price,
               sum({_PRICE} * (100 - {_DISC})) AS sum_disc_price,
               sum({_PRICE} * (100 - {_DISC}) * (100 + {_TAX})) AS sum_charge,
               avg(l_quantity) AS avg_qty, avg({_DISC}) AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '{1998 + int(rng.integers(0, 3))}-09-02'
        GROUP BY l_returnflag, l_linestatus""",
    lambda rng, wl: _tpch_q3(rng),
    lambda rng, wl: f"""
        SELECT n_name, sum({_PRICE} * (100 - {_DISC})) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{gen.REGIONS[int(rng.integers(0, 5))]}'
          AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name""",
    lambda rng, wl: _tpch_q6(rng),
)


# ---------------------------------------------------------------------------
# corpus: near-dup curation over a documents corpus, IVF search over it
# ---------------------------------------------------------------------------


class Corpus(Workload):
    """Batch: the near-dup training-data pipeline over the corpus.
    Requests: top-k IVF searches, each for a seeded batch of probe
    chunks, against the persisted RAG index built during set-up."""

    def setup(self) -> None:
        from build_datawarehouse_demo_spark.plans.rag_index import rag_index_build_persisted
        from build_datawarehouse_demo_spark.sources.readers import read_parquet

        ctx = self.ctx
        self.src = os.path.join(ctx.tmp, "src")
        gen.write_tables({"documents": gen.documents(ctx.seed, N_DOCS)}, self.src)
        self.docs_path = os.path.join(self.src, "documents.parquet")
        self.docs = read_parquet(self.spark, self.docs_path)
        self.index = os.path.join(ctx.tmp, "rag_index")
        with self.span("rag_index.rag_index_build_persisted"):
            rag_index_build_persisted(self.docs, "rag_index", path=self.index)
        self.lists = self.spark.table("rag_index")
        self.cents = self.spark.table("rag_index_centroids")
        self.vec_ids = sorted(r[0] for r in self.lists.select("vec_id").collect())
        # warm-up: one pipeline run and one search
        self.batch()
        self.batch_outputs.clear()
        self.start_requests()
        self.request()
        self.request_outputs.clear()

    def batch(self) -> int:
        from build_datawarehouse_demo_spark.plans.training_data import (
            prepare_training_data_neardup,
        )

        with self.span("training_data.prepare_training_data_neardup"):
            pdf = prepare_training_data_neardup(self.docs).toPandas()
        self.batch_outputs.append(hash_frame(pdf))
        return N_DOCS

    def request(self) -> int:
        from pyspark.sql import functions as F

        from build_datawarehouse_demo_spark.operators.similarity import ivf_index_search_topk

        # probes are stored chunks (self-matches excluded), as in the
        # engine's RAG search
        ids = sorted(int(i) for i in self.rng.choice(self.vec_ids, SEARCH_PROBES, replace=False))
        with self.span("similarity.ivf_index_search_topk"):
            probes = self.lists.filter(F.col("vec_id").isin(ids)).select(
                F.col("vec_id").alias("probe_id"),
                F.col("vec").cast("array<double>").alias("embedding"),
            )
            df = ivf_index_search_topk(
                self.lists, self.cents, probes, k=SEARCH_K, nprobe=SEARCH_NPROBE
            )
            rows = df.collect()
        self.request_outputs.append((tuple(ids), hash_rows(df.columns, rows), len(rows)))
        return 0

    def check(self) -> list[str]:
        from build_datawarehouse_demo_spark.operators.dedup import minhash_auto_params
        from build_datawarehouse_demo_spark.registry_round7 import _cos_sql
        from build_datawarehouse_demo_spark.registry_round9 import neardup_full_chain_sql

        fails = []
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.docs_path}'")
        if self.batch_outputs:
            want = hash_frame(con.execute(neardup_full_chain_sql(*minhash_auto_params(N_DOCS))).fetchdf())
            fails += [f"neardup mismatch in run {i}" for i, got in enumerate(self.batch_outputs) if got != want]
        con.execute(
            f"CREATE VIEW l AS SELECT vec_id, centroid_id AS cid, CAST(vec AS DOUBLE[]) AS v "
            f"FROM read_parquet('{self.index}/*.parquet')"
        )
        con.execute(
            f"CREATE VIEW c AS SELECT centroid_id AS cid, CAST(vec AS DOUBLE[]) AS cv "
            f"FROM read_parquet('{self.index}_centroids/*.parquet')"
        )
        for ids, got, _ in self.request_outputs:
            cur = con.execute(
                f"""
                WITH p AS (SELECT vec_id AS probe_id, v AS pv FROM l
                           WHERE vec_id IN ({", ".join(map(str, ids))})),
                pa AS (
                  SELECT probe_id, pv, cid FROM (
                    SELECT p.probe_id, p.pv, c.cid,
                           row_number() OVER (PARTITION BY p.probe_id
                               ORDER BY {_cos_sql("p.pv", "c.cv")} DESC, c.cid) AS rn
                    FROM p, c) WHERE rn <= {SEARCH_NPROBE}),
                scored AS (
                  SELECT pa.probe_id, l.vec_id, {_cos_sql("pa.pv", "l.v")} AS cos
                  FROM pa JOIN l ON l.cid = pa.cid AND l.vec_id <> pa.probe_id),
                ranked AS (
                  SELECT probe_id, vec_id, cos,
                         CAST(row_number() OVER (PARTITION BY probe_id
                             ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
                  FROM scored)
                SELECT probe_id, vec_id, round(cos, 6) AS cosine, rank
                FROM ranked WHERE rank <= {SEARCH_K}"""
            )
            want = hash_rows([d[0] for d in cur.description], cur.fetchall())
            if got != want:
                fails.append(f"search mismatch for probes {ids}")
        return fails


WORKLOADS = {"warehouse": Warehouse, "corpus": Corpus}
