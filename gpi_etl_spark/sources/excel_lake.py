"""Distributed Excel-lake scan: many workbooks → one cells DataFrame.

The reference ingests ONE workbook per release, driver-side
(``HTGPIWASDE/__init__.py:203-245`` reads the monthly WASDE ``.xls``,
``HTGPICFT/__init__.py:92-100`` the CFTC workbook). At 100× the same
feed is a lake of workbook payloads — far too many to parse on the
driver. Both native parsers (:mod:`gpi_etl_spark.sources.xls` BIFF8 and
:mod:`gpi_etl_spark.sources.xlsx` SpreadsheetML) are pure bytes→rows
functions, so the lake path is one ``mapInPandas``: payload rows stream
through Arrow in bounded batches, each workbook parses on the executor
that holds it, and no payload ever returns to the driver. Dispatch is
per-payload on magic bytes (OLE2 vs PK zip), so mixed ``.xls``/``.xlsx``
lakes work row by row.

Scale notes: one workbook fans out to thousands of narrow cell rows, so
the output repartitions freely downstream; the payloads themselves never
shuffle (the parse happens in the scan stage that read them). For a
filesystem lake use :func:`excel_lake_from_files`, which feeds Spark's
``binaryFile`` source (partition sizing via
``spark.sql.files.maxPartitionBytes``) straight into the same parser.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from gpi_etl_spark.sources.xls import is_xls


def _workbook_cells(
    payload: bytes,
    sheet_name: str | None,
    all_sheets: bool,
    fill_merged: bool,
) -> Iterator[tuple[str, int, int, str]]:
    """One payload → (sheet, row_idx, col_idx, value) tuples."""
    if is_xls(payload):
        from gpi_etl_spark.sources.xls import _Workbook

        wb = _Workbook(payload)
        names = [n for n, _ in wb.sheets] if all_sheets else [
            sheet_name or wb.sheets[0][0]
        ]
        for name in names:
            for (r, c), v in sorted(wb.cells(name, fill_merged).items()):
                yield name, r, c, v
        return
    from gpi_etl_spark.sources.xlsx import parse_xlsx_cells, sheet_names

    names = sheet_names(payload) if all_sheets else [sheet_name]
    for name in names:
        grid = parse_xlsx_cells(payload, name, fill_merged=fill_merged)
        label = name if name is not None else (sheet_names(payload) or [""])[0]
        for r, row in enumerate(grid):
            for c, v in enumerate(row):
                if v is not None:
                    yield label, r, c, v


def excel_lake_cells(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "workbook_id",
    sheet_name: str | None = None,
    all_sheets: bool = False,
    fill_merged: bool = True,
    on_error: str = "raise",
) -> DataFrame:
    """DataFrame of workbook payload rows → cell rows, distributed.

    Output schema is ``(id_col, sheet, row_idx, col_idx, value)`` — the
    engine's ``wasde_cells`` shape plus the workbook id, so each
    workbook's cells feed :func:`gpi_etl_spark.plans.wasde
    .extract_supply_use` unchanged (group or filter by ``id_col``).

    ``sheet_name=None`` reads each workbook's first sheet;
    ``all_sheets=True`` fans out every sheet. ``on_error='skip'`` drops
    undecodable payloads instead of failing the stage (a real lake has
    the odd truncated download); the default raises, naming the id.
    """
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, sheet string, row_idx int, col_idx int, "
        "value string"
    )
    src = df.select(id_col, payload_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sheets, rows, cols, vals = [], [], [], [], []
            for wid, payload in zip(pdf[id_col], pdf[payload_col]):
                # buffer per workbook so a payload that fails MID-parse
                # (e.g. sheet 2 of an all_sheets scan is corrupt) is
                # dropped whole in skip mode — never half-emitted
                wb_cells: list[tuple] = []
                try:
                    if payload is None:
                        raise ValueError("null workbook payload")
                    wb_cells = list(_workbook_cells(
                        bytes(payload), sheet_name, all_sheets, fill_merged
                    ))
                except Exception as exc:
                    if on_error == "raise":
                        raise ValueError(
                            f"workbook {wid!r} failed to parse: {exc}"
                        ) from exc
                    continue
                for name, r, c, v in wb_cells:
                    ids.append(wid)
                    sheets.append(name)
                    rows.append(r)
                    cols.append(c)
                    vals.append(v)
            yield pd.DataFrame(
                {id_col: ids, "sheet": sheets, "row_idx": rows,
                 "col_idx": cols, "value": vals}
            )

    return src.mapInPandas(run, schema=schema)


def excel_lake_from_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    **kwargs,
) -> DataFrame:
    """Filesystem lake of ``.xls``/``.xlsx`` files → cell rows via the
    ``binaryFile`` source (executors read the bytes; the driver never
    sees a payload). ``glob`` filters filenames (e.g. ``*.xls*``);
    remaining kwargs pass through to :func:`excel_lake_cells`."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(path).select(
        "path", "content"
    )
    return excel_lake_cells(
        files, payload_col="content", id_col="path", **kwargs
    )
