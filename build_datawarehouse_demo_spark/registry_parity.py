"""SURVEY.md §2 parity operators, one registry entry per op key.

Each entry pairs a DataFrame-API implementation (the operator modules
under ``operators/`` and ``sources/``) with a DuckDB oracle. Reference
provenance is cited per query; see SURVEY.md §2 for the full mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from build_datawarehouse_demo_spark.registry import register
from build_datawarehouse_demo_spark.sources.readers import read_parquet

SCRATCH = "/root/repo/.scratch"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # no rebalance: parity ops are scan/filter/join-shaped — pushdown
    # to the parquet scan matters more than scan-stage parallelism
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def register_parity() -> None:
    # ------------------------------------------------------------------
    # §2.1 scans / sources / sinks / generators
    # ------------------------------------------------------------------

    @register(
        "flagship_priority_revenue",
        oracle="""
        WITH dim AS (
          SELECT CAST(row_number() OVER (ORDER BY priority_name) AS INTEGER) AS priority_id,
                 priority_name
          FROM (SELECT DISTINCT o_orderpriority AS priority_name FROM orders)
        )
        SELECT d.priority_id, d.priority_name,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               count(*) AS n_items
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN dim d ON o.o_orderpriority = d.priority_name
        GROUP BY 1, 2
        """,
    )
    def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
        from build_datawarehouse_demo_spark.plans.flagship import flagship_priority_revenue

        return flagship_priority_revenue(spark, sf_dir)

    @register(
        "gen_date_range",
        oracle="""
        SELECT CAST(datediff('day', DATE '1992-01-01', CAST(d AS DATE)) AS INTEGER) AS datetime_id,
               d AS full_timestamp,
               CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_id,
               dayname(d) AS day_of_week,
               CAST(dayofmonth(d) AS INTEGER) AS day_of_month,
               CAST(month(d) AS INTEGER) AS month,
               CAST(year(d) AS INTEGER) AS year,
               CAST(quarter(d) AS INTEGER) AS quarter,
               CAST(0 AS INTEGER) AS hour_id,
               strftime(d, '%Y-%m-%d') AS full_date
        FROM generate_series(DATE '1992-01-01', DATE '2000-12-31', INTERVAL 1 DAY) AS t(d)
        """,
    )
    def q_gen_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
        # calendar spine (/root/reference/transformation.py:89-137).
        # full_date surfaces as a string: pandas DATE handling differs
        # between Spark-Arrow (datetime.date) and DuckDB (datetime64),
        # which would break the value hash on identical data.
        from build_datawarehouse_demo_spark.sources.generators import gen_date_range

        return gen_date_range(spark, "1992-01-01", "2000-12-31").withColumn(
            "full_date", F.col("full_date").cast("string")
        )

    @register(
        "gen_range_small",
        oracle="""
        SELECT CAST(range AS INTEGER) AS hour_id,
               printf('%02d', range) AS hour_of_day
        FROM range(24)
        """,
    )
    def q_gen_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
        # hour dim (/root/reference/transformation.py:118-125)
        from build_datawarehouse_demo_spark.sources.generators import gen_hour_dim

        return gen_hour_dim(spark)

    @register("src_json_scan", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
    def q_src_json(spark: SparkSession, sf_dir: str) -> DataFrame:
        # JSON-lines scan with explicit schema
        # (/root/reference/transformation.py:53-75): round-trip the
        # nation table through newline-delimited JSON and scan it back.
        from build_datawarehouse_demo_spark.sources.readers import read_json_lines

        path = f"{SCRATCH}/nation_jsonl"
        _t(spark, sf_dir, "nation").coalesce(1).write.mode("overwrite").json(path)
        schema = T.StructType(
            [
                T.StructField("n_nationkey", T.IntegerType()),
                T.StructField("n_name", T.StringType()),
                T.StructField("n_regionkey", T.IntegerType()),
            ]
        )
        return read_json_lines(spark, path, schema).select("n_nationkey", "n_name", "n_regionkey")

    @register("src_csv_scan", oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")
    def q_src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
        # CSV scan with header + explicit schema
        # (/root/reference/transformation.py:77-87).
        from build_datawarehouse_demo_spark.sources.readers import read_csv

        path = f"{SCRATCH}/supplier_csv"
        _t(spark, sf_dir, "supplier").coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
        schema = T.StructType(
            [
                T.StructField("s_suppkey", T.LongType()),
                T.StructField("s_name", T.StringType()),
                T.StructField("s_nationkey", T.IntegerType()),
                T.StructField("s_acctbal", T.DoubleType()),
            ]
        )
        return read_csv(spark, path, schema).select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")

    @register("src_orc_scan", oracle="SELECT r_regionkey, r_name FROM region")
    def q_src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
        # ORC round-trip: Spark's second built-in columnar format, same
        # pushdown/pruning behavior as parquet — the raw zone is format-
        # agnostic (SURVEY §2.1: any Spark-readable path is ingestable).
        from build_datawarehouse_demo_spark.sources.readers import read_orc

        path = f"{SCRATCH}/region_orc"
        _t(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").orc(path)
        schema = T.StructType(
            [
                T.StructField("r_regionkey", T.IntegerType()),
                T.StructField("r_name", T.StringType()),
            ]
        )
        return read_orc(spark, path, schema).select("r_regionkey", "r_name")

    @register(
        "sink_partitioned_prune",
        oracle="SELECT event_id, user_id, event_type FROM events WHERE event_type = 'click'",
    )
    def q_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
        # hive-style partitionBy write + partition-PRUNED read: the
        # filter on the partition column eliminates directories at
        # planning time (PartitionFilters in the scan, asserted in
        # tests/test_scale_layout.py) — at 100 TB this is the difference
        # between scanning one event_type and scanning all of them.
        path = f"{SCRATCH}/events_by_type"
        _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type").write.mode(
            "overwrite"
        ).partitionBy("event_type").parquet(path)
        return (
            spark.read.parquet(path)
            .filter(F.col("event_type") == "click")
            .select("event_id", "user_id", "event_type")
        )

    @register(
        "sink_compact_small_files",
        oracle="SELECT doc_id, text, lang, source FROM documents",
    )
    def q_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the small-files remediation op: a fragmented ingest output
        # (64 tiny files) is compacted to ceil(bytes/target) files via
        # a shuffle-free coalesce rewrite; sizes come from a Hadoop FS
        # listing so the same code works on s3a/hdfs. The entry
        # round-trips the COMPACTED copy so the oracle checks content
        # preservation; test_sources.py asserts the file-count drop.
        from build_datawarehouse_demo_spark.sources.writers import compact_parquet_dir

        frag = f"{SCRATCH}/docs_fragmented"
        compacted = f"{SCRATCH}/docs_compacted"
        _t(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source"
        ).repartition(64).write.mode("overwrite").parquet(frag)
        compact_parquet_dir(spark, frag, compacted, target_file_bytes=32 * 1024 * 1024)
        return spark.read.parquet(compacted).select("doc_id", "text", "lang", "source")

    @register(
        "sink_clustered_scan",
        oracle="""
        SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
        FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
        """,
    )
    def q_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
        # clustered (range-partitioned + sorted) layout: each written
        # file covers a near-disjoint l_shipdate range, so the
        # time-range filter skips whole files via parquet min/max —
        # the single-key clustering answer where partition pruning is
        # too coarse. test_scale_layout.py asserts the per-file stat
        # ranges are pairwise disjoint.
        from build_datawarehouse_demo_spark.sources.writers import write_clustered

        path = f"{SCRATCH}/lineitem_clustered"
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"
        )
        write_clustered(li, path, ("l_shipdate",), n_files=8)
        return spark.read.parquet(path).filter(
            F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")
        )

    @register(
        "sink_table_overwrite",
        oracle="""
        SELECT CAST(row_number() OVER (ORDER BY p_brand) AS INTEGER) AS brand_id, p_brand
        FROM (SELECT DISTINCT p_brand FROM part)
        """,
    )
    def q_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
        # CREATE OR REPLACE TABLE ... AS SELECT with empty-skip
        # (/root/reference/transformation.py:517-547): write the brand
        # dim as a catalog table, then read it back from the catalog.
        from build_datawarehouse_demo_spark.operators.keys import surrogate_key_rownum
        from build_datawarehouse_demo_spark.sources.writers import save_table

        dim = surrogate_key_rownum(
            _t(spark, sf_dir, "part").select("p_brand").dropDuplicates(),
            order_by=("p_brand",),
            key_col="brand_id",
        ).select("brand_id", "p_brand")
        save_table(dim, "bdw_dim_brand_sink", path=f"{SCRATCH}/warehouse/bdw_dim_brand_sink")
        return spark.table("bdw_dim_brand_sink")

    @register(
        "meta_show_tables",
        oracle="""
        SELECT t AS tableName FROM (VALUES ('customer'),('documents'),('embeddings'),
          ('events'),('lineitem'),('nation'),('orders'),('part'),('region'),('supplier')) v(t)
        """,
    )
    def q_show_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
        # SHOW TABLES (/root/reference/test_sql.py:8) over the
        # registered star views, filtered to the known set so the
        # result is independent of other session state.
        from build_datawarehouse_demo_spark.sources.catalog import show_tables
        from build_datawarehouse_demo_spark.sources.readers import STAR_TABLE_NAMES, register_star_views

        register_star_views(spark, sf_dir)
        return (
            show_tables(spark)
            .filter(F.col("tableName").isin(list(STAR_TABLE_NAMES)))
            .select("tableName")
        )

    # ------------------------------------------------------------------
    # §2.2 projections / filters
    # ------------------------------------------------------------------

    @register(
        "proj_select_rename",
        oracle="""
        SELECT c_custkey AS customer_id, c_name AS name, c_acctbal AS acctbal
        FROM customer WHERE c_acctbal > 1000
        """,
    )
    def q_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
        # projection + bulk rename + predicate
        # (/root/reference/transformation.py:143-145,293-300); filter and
        # projection push to the parquet scan via Catalyst.
        return (
            _t(spark, sf_dir, "customer")
            .select(
                F.col("c_custkey").alias("customer_id"),
                F.col("c_name").alias("name"),
                F.col("c_acctbal").alias("acctbal"),
            )
            .filter(F.col("acctbal") > 1000)
        )

    @register(
        "filter_notnull_nonempty",
        oracle="SELECT doc_id, lang FROM documents WHERE text IS NOT NULL AND text <> ''",
    )
    def q_filter_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
        # (/root/reference/transformation.py:151,393,403)
        from build_datawarehouse_demo_spark.operators.flatten import filter_not_null_not_empty

        return filter_not_null_not_empty(_t(spark, sf_dir, "documents"), "text").select("doc_id", "lang")

    @register(
        "filter_dropna_subset",
        oracle="""
        WITH spine AS (
          SELECT CAST(datediff('day', DATE '1995-01-01', CAST(d AS DATE)) AS INTEGER) AS datetime_id,
                 strftime(d, '%Y-%m-%d') AS date_key
          FROM generate_series(DATE '1995-01-01', DATE '1995-12-31', INTERVAL 1 DAY) AS t(d)
        )
        SELECT l.l_orderkey, l.l_linenumber, s.datetime_id
        FROM lineitem l LEFT JOIN spine s ON strftime(l.l_shipdate, '%Y-%m-%d') = s.date_key
        WHERE s.datetime_id IS NOT NULL
        """,
    )
    def q_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
        # left-join then drop unresolved rows — the checkin date pattern
        # (/root/reference/transformation.py:263-269).
        from build_datawarehouse_demo_spark.operators.joins import resolve_datetime_id
        from build_datawarehouse_demo_spark.sources.generators import gen_date_range

        spine = gen_date_range(spark, "1995-01-01", "1995-12-31")
        out = resolve_datetime_id(
            _t(spark, sf_dir, "lineitem"),
            spine,
            F.date_format("l_shipdate", "yyyy-MM-dd"),
            drop_miss=False,
        )
        return out.na.drop(subset=["datetime_id"]).select("l_orderkey", "l_linenumber", "datetime_id")

    # ------------------------------------------------------------------
    # §2.4 distinct / dedup
    # ------------------------------------------------------------------

    @register(
        "agg_distinct_full_row",
        oracle="SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders",
    )
    def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
        # drop_duplicates() dim builds (/root/reference/transformation.py:159,187,301)
        return _t(spark, sf_dir, "orders").select("o_orderpriority", "o_orderstatus").dropDuplicates()

    @register(
        "agg_distinct_subset",
        oracle="""
        SELECT DISTINCT CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS date_id,
               CAST(dayofmonth(o_orderdate) AS INTEGER) AS day,
               CAST(month(o_orderdate) AS INTEGER) AS month,
               CAST(year(o_orderdate) AS INTEGER) AS year
        FROM orders
        """,
    )
    def q_distinct_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
        # drop_duplicates(subset=['date_id']) for dim_date
        # (/root/reference/transformation.py:127-131). The non-key
        # columns are functionally dependent on date_id, so Spark's
        # arbitrary-row-per-key semantics are deterministic here —
        # exactly the situation in the reference.
        return (
            _t(spark, sf_dir, "orders")
            .select(
                F.date_format("o_orderdate", "yyyyMMdd").cast("int").alias("date_id"),
                F.dayofmonth("o_orderdate").alias("day"),
                F.month("o_orderdate").alias("month"),
                F.year("o_orderdate").alias("year"),
            )
            .dropDuplicates(["date_id"])
        )

    # ------------------------------------------------------------------
    # §1.4 / §2.5 surrogate keys
    # ------------------------------------------------------------------

    @register(
        "key_surrogate_rownum",
        oracle="""
        SELECT CAST(row_number() OVER (ORDER BY p_brand) AS INTEGER) AS brand_id, p_brand
        FROM (SELECT DISTINCT p_brand FROM part)
        """,
    )
    def q_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
        # np.arange(1, len+1) ids (/root/reference/transformation.py:160,188,277)
        from build_datawarehouse_demo_spark.operators.keys import surrogate_key_rownum

        dim = _t(spark, sf_dir, "part").select("p_brand").dropDuplicates()
        return surrogate_key_rownum(dim, order_by=("p_brand",), key_col="brand_id").select(
            "brand_id", "p_brand"
        )

    @register(
        "key_surrogate_scalable",
        oracle="""
        SELECT count(*) AS n_rows, CAST(1 AS BIGINT) AS min_id,
               count(*) AS max_id, count(*) AS n_distinct_ids
        FROM orders
        """,
    )
    def q_scalable_key(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the 100 TB replacement for positional ids: zipWithIndex-style
        # contiguous keys with no single-partition window. The oracle
        # checks the invariants (1-based, contiguous, unique) rather
        # than the partition-dependent assignment.
        from build_datawarehouse_demo_spark.operators.keys import surrogate_key_scalable

        keyed = surrogate_key_scalable(_t(spark, sf_dir, "orders"), key_col="sk")
        return keyed.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("sk").alias("min_id"),
            F.max("sk").alias("max_id"),
            F.countDistinct("sk").alias("n_distinct_ids"),
        )

    # ------------------------------------------------------------------
    # §2.3 joins
    # ------------------------------------------------------------------

    @register(
        "join_inner_single_key",
        oracle="""
        WITH ex AS (
          SELECT p_partkey, trim(w) AS word
          FROM part, unnest(string_split(p_name, ' ')) AS t(w)
          WHERE w IS NOT NULL AND trim(w) <> ''
        ),
        dim AS (
          SELECT CAST(row_number() OVER (ORDER BY word) AS INTEGER) AS word_id, word
          FROM (SELECT DISTINCT word FROM ex)
        )
        SELECT e.p_partkey, d.word_id, e.word FROM ex e JOIN dim d USING (word)
        """,
    )
    def q_join_single(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the category-bridge pattern: explode + dedup dim + surrogate
        # key + broadcast join back (/root/reference/transformation.py:149-168).
        from build_datawarehouse_demo_spark.operators.flatten import explode_delimited
        from build_datawarehouse_demo_spark.operators.joins import broadcast_dim_join
        from build_datawarehouse_demo_spark.operators.keys import surrogate_key_rownum

        ex = explode_delimited(
            _t(spark, sf_dir, "part"), "p_name", "word", keep_cols=("p_partkey",), sep=" "
        )
        dim = surrogate_key_rownum(
            ex.select("word").dropDuplicates(), order_by=("word",), key_col="word_id"
        )
        return broadcast_dim_join(ex, dim, on="word").select("p_partkey", "word_id", "word")

    @register(
        "join_inner_multi_key",
        oracle="""
        WITH dim AS (
          SELECT CAST(row_number() OVER (ORDER BY p_brand, p_type) AS INTEGER) AS combo_id,
                 p_brand, p_type
          FROM (SELECT DISTINCT p_brand, p_type FROM part)
        )
        SELECT p.p_partkey, d.combo_id
        FROM part p JOIN dim d ON p.p_brand = d.p_brand AND p.p_type = d.p_type
        """,
    )
    def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
        # two-key attribute-bridge join (/root/reference/transformation.py:191-196)
        from build_datawarehouse_demo_spark.operators.joins import broadcast_dim_join
        from build_datawarehouse_demo_spark.operators.keys import surrogate_key_rownum

        part = _t(spark, sf_dir, "part")
        dim = surrogate_key_rownum(
            part.select("p_brand", "p_type").dropDuplicates(),
            order_by=("p_brand", "p_type"),
            key_col="combo_id",
        )
        return broadcast_dim_join(part, dim, on=["p_brand", "p_type"]).select("p_partkey", "combo_id")

    @register(
        "join_left_single_key",
        oracle="""
        SELECT o.o_orderkey, rich.c_name
        FROM orders o
        LEFT JOIN (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000) rich
          ON o.o_custkey = rich.c_custkey
        """,
    )
    def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
        # left join keeping misses as nulls
        # (/root/reference/transformation.py:396,406).
        from build_datawarehouse_demo_spark.operators.joins import broadcast_dim_join

        orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        rich = (
            _t(spark, sf_dir, "customer")
            .filter(F.col("c_acctbal") > 5000)
            .select(F.col("c_custkey").alias("o_custkey"), "c_name")
        )
        return broadcast_dim_join(orders, rich, on="o_custkey", how="left").select(
            "o_orderkey", "c_name"
        )

    @register(
        "join_lookup_date_inner",
        oracle="""
        WITH spine AS (
          SELECT CAST(datediff('day', DATE '2024-01-01', CAST(d AS DATE)) AS INTEGER) AS datetime_id,
                 strftime(d, '%Y-%m-%d') AS date_key
          FROM generate_series(DATE '2024-01-01', DATE '2024-01-15', INTERVAL 1 DAY) AS t(d)
        )
        SELECT e.event_id, s.datetime_id
        FROM events e JOIN spine s ON strftime(e.ts, '%Y-%m-%d') = s.date_key
        """,
    )
    def q_date_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
        # dict-lookup join, drop-miss mode — the checkin pattern
        # (/root/reference/transformation.py:249,266-269), declared as a
        # broadcast hash join.
        from build_datawarehouse_demo_spark.operators.joins import resolve_datetime_id
        from build_datawarehouse_demo_spark.sources.generators import gen_date_range

        spine = gen_date_range(spark, "2024-01-01", "2024-01-15")
        out = resolve_datetime_id(
            _t(spark, sf_dir, "events"), spine, F.date_format("ts", "yyyy-MM-dd"), drop_miss=True
        )
        return out.select("event_id", "datetime_id")

    @register(
        "join_lookup_date_left",
        oracle="""
        WITH spine AS (
          SELECT CAST(datediff('day', DATE '2024-01-01', CAST(d AS DATE)) AS INTEGER) AS datetime_id,
                 strftime(d, '%Y-%m-%d') AS date_key
          FROM generate_series(DATE '2024-01-01', DATE '2024-01-15', INTERVAL 1 DAY) AS t(d)
        )
        SELECT e.event_id, s.datetime_id
        FROM events e LEFT JOIN spine s ON strftime(e.ts, '%Y-%m-%d') = s.date_key
        """,
    )
    def q_date_left(spark: SparkSession, sf_dir: str) -> DataFrame:
        # keep-null mode — the review/tip/weather pattern
        # (/root/reference/transformation.py:334-351,423-436,453-470).
        from build_datawarehouse_demo_spark.operators.joins import resolve_datetime_id
        from build_datawarehouse_demo_spark.sources.generators import gen_date_range

        spine = gen_date_range(spark, "2024-01-01", "2024-01-15")
        out = resolve_datetime_id(
            _t(spark, sf_dir, "events"), spine, F.date_format("ts", "yyyy-MM-dd"), drop_miss=False
        )
        return out.select("event_id", "datetime_id")

    # ------------------------------------------------------------------
    # §2.6 set operations
    # ------------------------------------------------------------------

    @register(
        "setop_union_all",
        oracle="""
        SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
        """,
    )
    def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
        # pd.concat chunk reassembly (/root/reference/transformation.py:71,364)
        orders = _t(spark, sf_dir, "orders")
        a = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderstatus")
        b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey", "o_orderstatus"
        )
        return a.unionAll(b)

    # ------------------------------------------------------------------
    # §2.7 unnesting / flattening
    # ------------------------------------------------------------------

    @register(
        "explode_split_tokens",
        oracle="""
        SELECT doc_id, trim(w) AS token
        FROM documents, unnest(string_split(text, ' ')) AS t(w)
        WHERE w IS NOT NULL AND trim(w) <> ''
        """,
    )
    def q_explode_split(spark: SparkSession, sf_dir: str) -> DataFrame:
        # delimited-string explode (categories/elite/friends,
        # /root/reference/transformation.py:149-155,389-403).
        from build_datawarehouse_demo_spark.operators.flatten import explode_delimited

        return explode_delimited(
            _t(spark, sf_dir, "documents"), "text", "token", keep_cols=("doc_id",), sep=" "
        )

    @register(
        "explode_map_props",
        oracle="""
        SELECT e.event_id, t.key AS attribute_name,
               json_extract_string(e.props, '$.' || t.key) AS attribute_value
        FROM events e, unnest(json_keys(e.props)) AS t(key)
        """,
    )
    def q_explode_map(spark: SparkSession, sf_dir: str) -> DataFrame:
        # map explode (business attributes,
        # /root/reference/transformation.py:174-182): parse the JSON
        # props into MapType then explode — no row loop.
        from build_datawarehouse_demo_spark.operators.flatten import explode_map

        ev = _t(spark, sf_dir, "events").withColumn(
            "props_map", F.from_json("props", T.MapType(T.StringType(), T.StringType()))
        )
        return explode_map(
            ev, "props_map", keep_cols=("event_id",), key_alias="attribute_name", value_alias="attribute_value"
        )

    @register(
        "explode_json_array",
        oracle="""
        WITH src AS (
          SELECT o_orderkey,
                 '[{"identifier":"' || o_orderstatus || '","params":"p' || (o_orderkey % 5)
                   || '","type":"t1"},{"identifier":"x-' || o_orderpriority
                   || '","params":"q' || (o_orderkey % 3) || '","type":"t2"}]' AS j
          FROM orders
        ),
        ex AS (SELECT o_orderkey, unnest(CAST(j AS JSON[])) AS el FROM src)
        SELECT o_orderkey,
               json_extract_string(el, '$.identifier') AS identifier,
               json_extract_string(el, '$.params') AS params,
               json_extract_string(el, '$.type') AS type
        FROM ex
        """,
    )
    def q_explode_json(spark: SparkSession, sf_dir: str) -> DataFrame:
        # JSON-string array-of-objects explode (covid highlights,
        # /root/reference/transformation.py:304-322): from_json +
        # explode_outer + struct-field access; malformed input → null
        # element, matching the reference's try/except.
        from build_datawarehouse_demo_spark.operators.flatten import explode_json_array

        schema = T.StructType(
            [
                T.StructField("identifier", T.StringType()),
                T.StructField("params", T.StringType()),
                T.StructField("type", T.StringType()),
            ]
        )
        src = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.concat(
                F.lit('[{"identifier":"'),
                F.col("o_orderstatus"),
                F.lit('","params":"p'),
                (F.col("o_orderkey") % 5).cast("string"),
                F.lit('","type":"t1"},{"identifier":"x-'),
                F.col("o_orderpriority"),
                F.lit('","params":"q'),
                (F.col("o_orderkey") % 3).cast("string"),
                F.lit('","type":"t2"}]'),
            ).alias("j"),
        )
        out = explode_json_array(src, "j", schema, keep_cols=("o_orderkey",), element_alias="el")
        return out.select(
            "o_orderkey",
            F.col("el.identifier").alias("identifier"),
            F.col("el.params").alias("params"),
            F.col("el.type").alias("type"),
        )

    @register(
        "explode_map_hours_parse",
        oracle="""
        SELECT event_id, 'monday' AS day_of_week,
               printf('%d:00', hour(ts)) AS open_time,
               printf('%d:00', hour(ts) + 8) AS close_time,
               CAST(hour(ts) AS INTEGER) AS open_hour_id,
               CAST((hour(ts) + 8) % 24 AS INTEGER) AS close_hour_id
        FROM events
        """,
    )
    def q_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
        # {day: "H:M-H:M"} parse with the %24 wrap, emitting the
        # reference's exact column set incl. raw open_time/close_time
        # (/root/reference/transformation.py:201-229). Hour-range map
        # synthesized from event timestamps; parse path is the real op.
        from build_datawarehouse_demo_spark.operators.flatten import parse_hour_ranges

        ev = _t(spark, sf_dir, "events").select(
            "event_id",
            F.create_map(
                F.lit("monday"),
                F.format_string(
                    "%d:00-%d:00", F.hour("ts"), (F.hour("ts") + F.lit(8)).cast("int")
                ),
            ).alias("hours"),
        )
        return parse_hour_ranges(ev, "hours", keep_cols=("event_id",))

    # ------------------------------------------------------------------
    # §2.8 scalar function kit
    # ------------------------------------------------------------------

    @register(
        "fn_scalar_kit",
        oracle="""
        SELECT o_orderkey,
               CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS date_id,
               dayname(o_orderdate) AS weekday,
               CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
               lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS padded,
               trim('  ' || o_orderstatus || ' ') AS trimmed,
               o_orderkey % 7 AS mod7
        FROM orders
        """,
    )
    def q_fn_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the §2.8 scalar inventory: strftime formats, day-name, quarter,
        # zero-pad, trim, cast, modulo
        # (/root/reference/transformation.py:100-135,123,181,210,260).
        return _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyyMMdd").cast("int").alias("date_id"),
            F.date_format("o_orderdate", "EEEE").alias("weekday"),
            F.quarter("o_orderdate").alias("qtr"),
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("padded"),
            F.trim(F.concat(F.lit("  "), F.col("o_orderstatus"), F.lit(" "))).alias("trimmed"),
            F.pmod(F.col("o_orderkey"), F.lit(7)).alias("mod7"),
        )

    @register(
        "fn_json_parse",
        oracle="""
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
        FROM events
        """,
    )
    def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
        # json.loads + .get() field access
        # (/root/reference/transformation.py:310,317-319).
        return _t(spark, sf_dir, "events").select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k_value"),
        )

    @register(
        "fn_to_timestamp_coerce",
        oracle="""
        SELECT event_id, TRY_CAST(trim(raw) AS TIMESTAMP) AS parsed
        FROM (SELECT event_id, ' ' || strftime(ts, '%Y-%m-%d %H:%M:%S')
                 || CASE WHEN event_id % 100 = 0 THEN '-bad' ELSE '' END AS raw
              FROM events)
        """,
    )
    def q_fn_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
        # pd.to_datetime(errors='coerce') null-on-failure semantics
        # (/root/reference/transformation.py:260): 1% of rows corrupted,
        # parse must yield null for them, values for the rest.
        ev = _t(spark, sf_dir, "events").select(
            "event_id",
            F.concat(
                F.lit(" "),
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
                F.when(F.col("event_id") % 100 == 0, F.lit("-bad")).otherwise(F.lit("")),
            ).alias("raw"),
        )
        # try_to_timestamp: Spark 4 runs ANSI mode by default, where a
        # plain to_timestamp throws on malformed input; try_ gives the
        # null-on-failure the reference relied on.
        return ev.select(
            "event_id", F.try_to_timestamp(F.trim(F.col("raw"))).alias("parsed")
        )
