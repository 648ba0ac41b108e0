"""S5 Excel sink + S1/S2 Excel ingest boundary, dependency-free.

The container has no openpyxl/xlsxwriter, so these tests exercise the
built-in OOXML writer/reader (cdc_2025_spark.excel) — the same code
path ``write_single_excel`` / ``ingest_excel_sheet`` fall back to.
Mirrors the CSV round-trip strategy of test_reference_parity.py:
whatever the engine exports must read back value-identical, including
the indentation-encoded Industry strings.
"""

from __future__ import annotations

import math

import pytest

from cdc_2025_spark.excel import read_xlsx, write_xlsx
from cdc_2025_spark.io import write_single_excel

from tests.conftest import reference_csv


def test_roundtrip_types_and_whitespace(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("    Indented industry  ", 2020, 1.5, None),
            ("Plain", 2021, -0.25, 7.0),
            ("  two spaces", 2022, 1e-3, float("nan")),
        ],
        "Industry string, Year int, Real double, Extra double",
    )
    path = str(tmp_path / "out.xlsx")
    write_single_excel(df, path, sheet_name="Metrics")
    back = read_xlsx(path)
    assert list(back.columns) == ["Industry", "Year", "Real", "Extra"]
    assert list(back["Industry"]) == [
        "    Indented industry  ",
        "Plain",
        "  two spaces",
    ]
    assert list(back["Year"]) == [2020, 2021, 2022]
    # Spark NULL double -> pandas NaN -> omitted cell -> NaN again
    assert back["Extra"].isna()[0]
    assert math.isclose(back["Real"][2], 1e-3)


def test_numeric_cells_coerced_to_native_repr(tmp_path):
    """Numeric cells must format via native Python str/repr: under
    numpy>=2, repr(np.float64(1.5)) is 'np.float64(1.5)', which would
    emit unparseable <v> cells if itertuples ever yields numpy
    scalars. Simulated with a float subclass carrying a numpy-2-style
    repr so the pin holds regardless of installed numpy."""
    import pandas as pd

    class Np2Float(float):
        def __repr__(self):
            return f"np.float64({float.__repr__(self)})"

    pdf = pd.DataFrame({"x": [Np2Float(1.5), Np2Float(-0.25)]})
    # keep the subclass through pandas: object dtype
    pdf["x"] = pdf["x"].astype(object)
    path = str(tmp_path / "np2.xlsx")
    write_xlsx(pdf, path)
    back = read_xlsx(path)
    assert list(back["x"]) == [1.5, -0.25]


def test_sheet_name_resolution(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "x int, y string")
    path = str(tmp_path / "named.xlsx")
    write_single_excel(df, path, sheet_name="TableA5")
    assert list(read_xlsx(path, sheet_name="TableA5")["x"]) == [1]
    with pytest.raises(KeyError):
        read_xlsx(path, sheet_name="Nope")


def test_row_guard(spark, tmp_path):
    df = spark.range(100).withColumnRenamed("id", "v")
    with pytest.raises(ValueError, match="refusing"):
        write_single_excel(df, str(tmp_path / "big.xlsx"), max_rows=10)
    # exactly max_rows rows is not refused
    path = str(tmp_path / "ten.xlsx")
    write_single_excel(df.limit(10), path, max_rows=10)
    assert [int(x) for x in read_xlsx(path)["v"]] == list(range(10))


def test_ingest_excel_sheet_with_skiprows(spark, tmp_path):
    """End-to-end S1/S2: a BEA-shaped workbook (5 junk rows above the
    header, row-number column, unnamed industry column) ingested via
    the same skiprows/positional contract as pd.read_excel."""
    import pandas as pd

    from cdc_2025_spark.reference.bea_ingest import ingest_excel_sheet

    junk_plus_data = pd.DataFrame(
        [
            ["junk"] + [None] * 3,
            [None] * 4,
            ["still junk", None, None, None],
            [None] * 4,
            # row 6 in the file = the real header
            ["Line", "Unnamed: 1", "2020", "2021"],
            [1, "    Farms", 10.0, 11.0],
            [2, "  Mining", 20.0, 21.0],
        ],
        columns=["a", "b", "c", "d"],
    )
    path = str(tmp_path / "bea.xlsx")
    write_xlsx(junk_plus_data, path, sheet_name="TableA5")
    wide = ingest_excel_sheet(spark, path, sheet_name="TableA5", skiprows=5)
    rows = {r["Industry"]: (r["2020"], r["2021"]) for r in wide.collect()}
    assert rows == {"    Farms": (10.0, 11.0), "  Mining": (20.0, 21.0)}
    assert wide.columns == ["Industry", "2020", "2021"]


def test_export_resilience_metrics(spark, tmp_path):
    """The reference's actual S5 usage: export the resilience metrics
    table to .xlsx and read it back value-identical."""
    from cdc_2025_spark.io import read_csv, with_row_order
    from cdc_2025_spark.reference import resilience_metrics, top_k_worst_hit
    from cdc_2025_spark.schemas import CLEAN_VA_PRICE

    fact = with_row_order(
        read_csv(
            spark, reference_csv("clean_va_price.csv"), schema=CLEAN_VA_PRICE
        )
    )
    top = top_k_worst_hit(resilience_metrics(fact)).limit(10)
    want = top.toPandas()
    path = str(tmp_path / "resilience.xlsx")
    write_single_excel(top, path, sheet_name="Top10")
    back = read_xlsx(path)
    assert list(back.columns) == list(want.columns)
    assert list(back["Industry"]) == list(want["Industry"])
    for a, b in zip(back["Drawdown_2020"], want["Drawdown_2020"]):
        assert (a is None and (b is None or b != b)) or math.isclose(
            float(a), float(b), rel_tol=1e-12
        )
