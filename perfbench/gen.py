"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed and
size give byte-identical frames. The library never sees a seed, only
the frames (or the files written from them).

Two families:

- ``bea_panel``: a pair of BEA-shaped wide sheets ("Table 2" nominal
  value added and "Table 3" price index) as ``pd.read_excel(...,
  skiprows=5)`` would return them, carrying every FIXTURES.md §A1 edge
  case: duplicate same-depth names under two parents, ``…``-suppressed
  cells, a price index of exactly 100 in 2017, zero 2019 values, an
  industry that never recovers, glued footnote digits and a trailing
  footnote column.
- ``star_tables``: the TPC-H-ish star schema plus the ``documents``
  extension table, with the column types, value ranges and
  near-duplicate structure FIXTURES.md §B lists. Only the tables the
  registry's queries read are generated.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd

YEARS = tuple(range(2012, 2024))
YEAR_COLS = tuple(str(y) for y in YEARS)
SUPPRESSED = "…"
LINE_COL = "Line"
LABEL_COL = "Unnamed: 1"
FOOTNOTE_COL = "Unnamed: 14"
INDENT = "    "

# Edge-case rows of every panel: (label, kind). Kinds:
#   dup          - a same-depth child repeated under a second parent
#   suppressed   - nominal "…" in every year (absent from the fact)
#   price_gap    - price "…" in every year (absent from the fact)
#   zero_base    - nominal 2019 == 0, 2020 > 0 (drawdown +inf)
#   zero_zero    - nominal 2019 == 2020 == 0 (drawdown NaN)
#   never        - falls in 2020 and stays below 2019 (no recovery)
#   gap_2020     - nominal "…" in 2020 only (drawdown NULL)
#   gap_2019     - nominal "…" in 2019 only (absent from the metrics)
EDGE_ROWS = (
    ("Federal", "parent"),
    (INDENT * 2 + "General government", "dup"),
    (INDENT * 2 + "Government enterprises", "dup"),
    ("State and local", "parent"),
    (INDENT * 2 + "General government", "dup"),
    (INDENT * 2 + "Government enterprises", "dup"),
    ("Agriculture, forestry, fishing, and hunting", "suppressed"),
    (INDENT + "Farms", "price_gap"),
    (INDENT * 2 + "Water transportation", "zero_base"),
    (INDENT * 2 + "Pipeline transportation", "zero_zero"),
    (INDENT + "Housing", "never"),
    ("Space economy1", "plain"),
    (INDENT + "Motion picture and sound recording industries", "gap_2020"),
    (INDENT + "Broadcasting and telecommunications5", "gap_2019"),
)

# Distinct fact industries / long rows contributed by EDGE_ROWS per
# year: 14 rows, 12 distinct labels, minus the two dropped ones; each
# duplicate name fans out 2x2 through the many-to-many merge.
EDGE_FACT_INDUSTRIES = 10
EDGE_FACT_ROWS_PER_YEAR = 16


def bea_panel(seed: int, n_series: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Nominal and price-index wide sheets with ``n_series`` rows each.

    The first ``len(EDGE_ROWS)`` labels are the edge cases; the rest are
    generic industries at seeded hierarchy depths. Row order within the
    sheet is seeded, so edge cases sit at different positions per seed.
    Every year cell is a string (numbers formatted as Excel shows them,
    or ``…``), which is what forces the coerce-to-numeric step.
    """
    n_generic = n_series - len(EDGE_ROWS)
    if n_generic < 1:
        raise ValueError(f"n_series must exceed {len(EDGE_ROWS)}")
    rng = np.random.default_rng([seed, n_series, 1])
    width = len(str(n_generic))
    depth = rng.integers(0, 4, n_generic)
    glued = rng.random(n_generic) < 0.03
    generic = [
        INDENT * int(d) + f"Industry {i:0{width}d}" + ("3" if g else "")
        for i, (d, g) in enumerate(zip(depth, glued))
    ]
    labels = [lab for lab, _ in EDGE_ROWS] + generic
    kinds = [k for _, k in EDGE_ROWS] + ["plain"] * n_generic

    n = len(labels)
    years = np.array(YEARS)
    level = np.exp(rng.normal(8.0, 1.5, n))
    growth = rng.normal(0.03, 0.02, n)
    noise = rng.normal(0.0, 0.01, (n, len(YEARS)))
    nominal = level[:, None] * np.exp(
        growth[:, None] * (years - 2012)[None, :] + noise
    )
    # the 2020 shock and a seeded recovery path afterwards
    i20 = YEARS.index(2020)
    shock = rng.uniform(-0.35, 0.08, n)
    pace = rng.uniform(0.02, 0.25, n)
    for k in range(i20, len(YEARS)):
        nominal[:, k] *= np.minimum(1.0, (1.0 + shock) + pace * (k - i20))
    inflation = rng.normal(0.02, 0.01, n)
    price = 100.0 * (1.0 + inflation[:, None]) ** (years - 2017)[None, :]
    price *= np.exp(rng.normal(0.0, 0.003, (n, len(YEARS))))
    price[:, YEARS.index(2017)] = 100.0

    nominal_cells = [[f"{v:.1f}" for v in row] for row in nominal]
    price_cells = [[f"{v:.3f}" for v in row] for row in price]
    i19 = YEARS.index(2019)
    for r, kind in enumerate(kinds):
        row = nominal_cells[r]
        if kind == "suppressed":
            row[:] = [SUPPRESSED] * len(YEARS)
        elif kind == "price_gap":
            price_cells[r][:] = [SUPPRESSED] * len(YEARS)
        elif kind == "zero_base":
            row[i19] = "0.0"
        elif kind == "zero_zero":
            row[i19] = row[i20] = "0.0"
        elif kind == "never":
            base = float(row[i19])
            for k in range(i20, len(YEARS)):
                row[k] = f"{base * (0.7 + 0.02 * (k - i20)):.1f}"
        elif kind == "gap_2020":
            row[i20] = SUPPRESSED
        elif kind == "gap_2019":
            row[i19] = SUPPRESSED

    order = rng.permutation(n)
    footnotes = np.where(rng.random(n) < 0.05, "See footnote.", "")

    def sheet(cells: list[list[str]]) -> pd.DataFrame:
        data = {LINE_COL: np.arange(1, n + 1, dtype=np.int64)}
        data[LABEL_COL] = [labels[i] for i in order]
        for k, col in enumerate(YEAR_COLS):
            data[col] = [cells[i][k] for i in order]
        data[FOOTNOTE_COL] = list(footnotes)
        return pd.DataFrame(data)

    return sheet(nominal_cells), sheet(price_cells)


def fact_shape(n_series: int) -> tuple[int, int]:
    """(distinct fact industries, fact rows) that ``bea_panel`` yields
    after the reference cleaning pipeline."""
    n_generic = n_series - len(EDGE_ROWS)
    industries = n_generic + EDGE_FACT_INDUSTRIES
    # gap_2020 and gap_2019 each lose one year
    rows = (n_generic + EDGE_FACT_ROWS_PER_YEAR) * len(YEARS) - 2
    return industries, rows


# ---------------------------------------------------------------- star


REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.39, 0.16, 0.16, 0.15)


def _days(rng, start: datetime.date, end: datetime.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def star_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The seven registry input tables at scale factor ``sf``.

    Row counts follow TESTDATA.md's tables: lineitem 6e6*sf, orders
    1.5e6*sf, customer 1.5e5*sf, supplier 1e4*sf; documents stay at 500
    rows at every scale. ``l_partkey`` spans the 2e5*sf part keys,
    though no ``part`` table is written: no registry query reads it.
    """
    rng = np.random.default_rng([seed, 2])
    n_cust = max(int(150_000 * sf), 25)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = max(int(6_000_000 * sf), 400)
    i32 = np.int32

    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": list(REGIONS)}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(ORDER_STATUS, n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _days(
                rng, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1), n_ord
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li),
            "l_linestatus": rng.choice(("F", "O"), n_li),
            "l_shipdate": _days(
                rng, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4), n_li
            ),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
        "documents": documents(rng, 500),
    }


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents over a 30-word vocabulary. Exactly 6% are a
    copy of an earlier document with `` dup`` appended (near-dups), and
    the word counts are a seeded permutation of a fixed 10..99 cycle, so
    the dedup and n-gram work is the same for every seed."""
    lengths = rng.permutation(10 + np.arange(n) % 90)
    dups = set(rng.choice(np.arange(11, n), size=round(0.06 * n), replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(lengths[i]))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_star(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One Parquet file per table, ``<out_dir>/<name>.parquet``."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    for name, df in tables.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, f"{out_dir}/{name}.parquet")
