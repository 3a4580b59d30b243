"""Seeded input generator for the benchmark.

Every table is a pure function of (seed, sizes): the same seed writes
byte-identical parquet files, another seed writes different values of
the same shape. Distributions follow the engine's synthetic test-data
generator (TPC-H-shaped tables, a 31-token vocabulary corpus, Zipf
duplicate groups with a fixed group-size cap) so per-operation work is
the same from seed to seed; only the values move.

Only numpy and pyarrow are used here, so generation needs no Spark
session. The Yelp-shaped raw zone of the warehouse build is derived
from the TPC-H-shaped tables by the rules of the engine's fixture
adapter (``yelp_raw_zone``), planted malformations included.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window plan join group order filter shuffle stage task node disk "
    "cache query"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "MEDIUM", "SMALL", "PROMO"]
PNOUNS = "ring bolt screw washer nut gear shaft plate rod pin".split()
PADJ = "large hot small cold red blue green slick shiny matte".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables at scale factor ``sf`` (sf 1 = 1.5M orders).
    Orders and ship dates are uniform over 1995-01-01 .. 2001-08-01,
    lineitems per order are 1 + Poisson(3.075) capped at 17."""
    rng = np.random.default_rng([seed, 1])
    n_c, n_s = int(150_000 * sf), max(10, int(10_000 * sf))
    n_p, n_o = int(200_000 * sf), int(1_500_000 * sf)

    out = {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_c, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
                "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_s, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
                "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999, 9999, n_s), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_p, dtype=np.int64),
                "p_name": [
                    f"{PADJ[a]} {PNOUNS[b]}"
                    for a, b in zip(rng.integers(0, 10, n_p), rng.integers(0, 10, n_p))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
                "p_type": np.array(PTYPES)[rng.integers(0, 6, n_p)],
                "p_size": rng.integers(1, 51, n_p).astype(np.int32),
                "p_retailprice": np.round(900 + np.arange(n_p) % 1000 * 0.1, 2),
            }
        ),
    }

    d0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    days = (np.datetime64("2001-08-01", "us").astype(np.int64) - d0) // DAY_US
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o),
            "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_o)],
            "o_totalprice": np.round(rng.uniform(900, 450_000, n_o), 2),
            "o_orderdate": (d0 + rng.integers(0, days + 1, n_o) * DAY_US).astype(
                "datetime64[us]"
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)],
        }
    )

    lpo = np.minimum(1 + rng.poisson(3.075, n_o), 17)
    n_l = int(lpo.sum())
    starts = np.repeat(np.cumsum(lpo) - lpo, lpo)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": np.repeat(np.arange(n_o, dtype=np.int64), lpo),
            "l_partkey": rng.integers(0, n_p, n_l),
            "l_suppkey": rng.integers(0, n_s, n_l),
            "l_linenumber": (np.arange(n_l) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_l), 2),
            "l_discount": np.round(rng.integers(0, 11, n_l) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_l) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
            "l_shipdate": (d0 + rng.integers(0, days + 61, n_l) * DAY_US).astype(
                "datetime64[us]"
            ),
        }
    )
    return out


def zipf_group_sizes(rng: np.random.Generator, budget: int, cap: int) -> list[int]:
    """Duplicate-group sizes summing to at most ``budget``: Zipf(a=1.5)
    clipped to [2, cap] — a few large groups and a long tail."""
    sizes: list[int] = []
    left = budget
    while left >= 2:
        s = int(min(max(2, rng.zipf(1.5)), cap, left))
        sizes.append(s)
        left -= s
    return sizes


#: documents corpus shape: share of rows in duplicate groups, largest
#: group, share of copies that are near (one token changed) rather than
#: exact duplicates, share of low-quality pages
DUP_FRACTION, DUP_MAX_GROUP, NEAR_FRAC, LOWQ_FRAC = 0.2, 8, 0.5, 0.1


def documents(seed: int, n_docs: int) -> pa.Table:
    """A ``documents`` corpus (doc_id, text, lang, source, n_chars).

    Texts are 10..100 tokens from the vocabulary. ``DUP_FRACTION`` of
    the rows are rewritten into Zipf duplicate groups of at most
    ``DUP_MAX_GROUP`` members: a ``NEAR_FRAC`` share of the copies get
    one token replaced (near duplicates), the rest are exact copies.
    ``LOWQ_FRAC`` of the rows become low-quality pages (under five
    tokens, or one token repeated), which the quality filters drop.
    A fixed group cap keeps the near-dup pair output linear in n."""
    rng = np.random.default_rng([seed, 2])
    voc = np.array(VOCAB)
    counts = rng.integers(10, 101, n_docs)
    flat = rng.integers(0, len(VOCAB), int(counts.sum()))
    offs = np.concatenate([[0], np.cumsum(counts)])
    toks = [list(voc[flat[offs[i] : offs[i + 1]]]) for i in range(n_docs)]

    sizes = zipf_group_sizes(rng, int(n_docs * DUP_FRACTION), DUP_MAX_GROUP)
    pos = n_docs - sum(sizes)
    for s in sizes:
        for j in range(pos + 1, pos + s):
            toks[j] = list(toks[pos])
            if rng.random() < NEAR_FRAC:
                toks[j][int(rng.integers(0, len(toks[j])))] = str(voc[rng.integers(0, len(voc))])
        pos += s

    # low-quality pages go to non-duplicate rows so group sizes stay exact
    n_unique = n_docs - sum(sizes)
    for i in rng.choice(n_unique, int(n_docs * LOWQ_FRAC), replace=False):
        if rng.random() < 0.5:
            toks[i] = toks[i][: int(rng.integers(1, 5))]
        else:
            toks[i] = [toks[i][0]] * len(toks[i])

    texts = [" ".join(t) for t in toks]
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
            "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write each table as ``<out_dir>/<name>.parquet``; returns bytes
    written per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        sizes[name] = os.path.getsize(path)
    return sizes


# ---------------------------------------------------------------------------
# Yelp-shaped raw zone (the warehouse build's input)
# ---------------------------------------------------------------------------

#: raw dataset -> Spark DDL schema (FIXTURES.md shapes)
RAW_SCHEMAS = {
    "business": "business_id string, name string, address string, city string, "
    "state string, postal_code string, latitude double, longitude double, "
    "stars double, review_count int, is_open int, categories string, "
    "attributes map<string,string>, hours map<string,string>",
    "user": "user_id string, name string, review_count int, yelping_since string, "
    "useful int, funny int, cool int, fans int, average_stars double, "
    "elite string, friends string",
    "review": "review_id string, business_id string, user_id string, stars double, "
    "useful int, funny int, cool int, text string, date string",
    "checkin": "business_id string, date string",
    "tip": "text string, compliment_count int, business_id string, user_id string, "
    "date string",
    "covid_features": "business_id string, `Grubhub enabled` string, "
    "`Request a Quote Enabled` string, `Covid Banner` string, "
    "`Temporary Closed Until` string, `Virtual Services Offered` string, "
    "highlights string",
    "temperature": "date int, min double, max double, normal_min double, normal_max double",
    "precipitation": "date int, precipitation string, precipitation_normal double",
}
RAW_CSV = ("temperature", "precipitation")


def _ts(values) -> list[str]:
    return [s.replace("T", " ") for s in np.datetime_as_string(values, unit="s")]


def yelp_raw_zone(t: dict[str, pa.Table]) -> dict[str, list[tuple]]:
    """Raw rows of the eight Yelp datasets, derived from the TPC-H-shaped
    tables by exactly the rules of the engine's fixture adapter
    (``registry_round7._yelp_fixture_from_driver_tables``), whose DuckDB
    restatement (``_STAR_ORACLE``) checks the built warehouse. Planted
    malformations: NULL/'' categories, NULL attribute and hour maps, a
    'garbage' hour range and checkin date, 'not json' highlights, dates
    outside the calendar spine, and 'T' trace precipitation."""
    part, cust = t["part"].to_pydict(), t["customer"].to_pydict()
    orders, li = t["orders"].to_pydict(), t["lineitem"]

    business, covid = [], []
    for pk, name, brand, ptype, size in zip(
        part["p_partkey"], part["p_name"], part["p_brand"], part["p_type"], part["p_size"]
    ):
        cats = None if pk % 10 == 0 else "" if pk % 10 == 1 else f"{ptype}, {brand}"
        attrs = {"Brand": brand, "Size": str(size)} if pk % 7 else None
        f = pk % 14
        hours = {"Monday": "9:0-17:0", "Friday": f"{f}:0-{f + 12}:0", "Sunday": "garbage"} if pk % 5 else None
        business.append(
            (f"b{pk}", name, ptype, brand, f"S{pk % 5}", str(size), float(pk % 90),
             float(pk % 180), float(pk % 5 + 1), int(size), pk % 2, cats, attrs, hours)
        )
        if pk % 4 == 0:
            hl = (
                f'[{{"identifier":"h{pk % 7}","params":"p","type":"t1"}},'
                f'{{"identifier":"h{pk % 5}","params":"q","type":"t2"}}]'
                if pk % 3 == 0 else "not json" if pk % 3 == 1 else None
            )
            covid.append(
                (f"b{pk}", "TRUE" if pk % 8 == 0 else "FALSE", "TRUE" if pk % 3 == 0 else "FALSE",
                 "" if pk % 5 == 0 else f"open{pk % 5}", "", "TRUE" if pk % 6 == 0 else "FALSE", hl)
            )

    elite = ("", "2015", "2015,2016", "2016,2017,2018")
    user = [
        (f"u{ck}", name, ck % 100, str(np.datetime64("2010-01-01") + ck % 2000), ck % 7, ck % 5,
         ck % 3, ck % 11, ((ck % 40) + 10) / 10.0, elite[ck % 4],
         "" if ck % 3 == 0 else f"u{ck % 50},u{ck % 97}")
        for ck, name in zip(cust["c_custkey"], cust["c_name"])
    ]

    odates = np.array(orders["o_orderdate"], dtype="datetime64[us]")
    ostr = _ts(odates)
    review, checkin = [], {}
    for ok, ck, prio, ds in zip(orders["o_orderkey"], orders["o_custkey"], orders["o_orderpriority"], ostr):
        review.append(
            (f"r{ok}", f"b{ok % 2000}", f"u{ck}", float(ok % 5 + 1), ok % 4, ok % 3, ok % 2, prio,
             "2031-01-01 00:00:00" if ok % 97 == 0 else ds)
        )
        checkin.setdefault(f"b{ck % 300}", []).append("garbage" if ok % 89 == 0 else ds)

    mask = (li["l_linenumber"].to_numpy() == 1) & (li["l_orderkey"].to_numpy() % 4 == 0)
    tl = li.filter(pa.array(mask)).to_pydict()
    tip = [
        (rf + ls, int(q), f"b{pk % 2000}", f"u{sk % 1500}", ds)
        for rf, ls, q, pk, sk, ds in zip(
            tl["l_returnflag"], tl["l_linestatus"], tl["l_quantity"], tl["l_partkey"],
            tl["l_suppkey"], _ts(np.array(tl["l_shipdate"], dtype="datetime64[us]")),
        )
    ]

    days = np.unique(odates.astype("datetime64[D]"))
    ymd = [(int(s[:4]), int(s[5:7]), int(s[8:10])) for s in np.datetime_as_string(days)]
    temperature = [
        (y * 10000 + m * 100 + d, float(d), float(d + 20), float(m), float(m + 15)) for y, m, d in ymd
    ] + [(19000101, 1.0, 2.0, 1.0, 2.0)]
    precipitation = [
        (y * 10000 + m * 100 + d, "T" if d % 10 == 0 else str(d), float(d * 2))
        for y, m, d in ymd if m == 1
    ]
    return {
        "business": business,
        "user": user,
        "review": review,
        "checkin": [(b, ", ".join(sorted(ds))) for b, ds in checkin.items()],
        "tip": tip,
        "covid_features": covid,
        "temperature": temperature,
        "precipitation": precipitation,
    }


def raw_columns(name: str) -> list[str]:
    return [c.rsplit(" ", 1)[0].strip("`") for c in RAW_SCHEMAS[name].split(", ")]


def write_raw_zone(raw: dict[str, list[tuple]], out_dir: str) -> tuple[int, int]:
    """One directory per dataset holding one NDJSON (or, for weather, a
    CSV with header) file; returns (rows, bytes) written."""
    import csv
    import json

    rows = nbytes = 0
    for name, data in raw.items():
        cols = raw_columns(name)
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        path = os.path.join(out_dir, name, f"part-00000.{'csv' if name in RAW_CSV else 'json'}")
        with open(path, "w", newline="") as f:
            if name in RAW_CSV:
                w = csv.writer(f, lineterminator="\n")
                w.writerow(cols)
                w.writerows(data)
            else:
                for r in data:
                    f.write(json.dumps({c: v for c, v in zip(cols, r) if v is not None}) + "\n")
        rows += len(data)
        nbytes += os.path.getsize(path)
    return rows, nbytes
