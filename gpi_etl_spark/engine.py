"""Engine facade: the reference's 13 HTTP entry points as named jobs.

A user of the reference function app has 13 deployable endpoints (one
folder per function — HTGPIWASDE/__init__.py, HTGPIPROPHEDEX/__init__
.py:29-62 with its own 13-command dispatch, HTGPIYAHOO, … PGSITE).
This module is the single registry mapping each endpoint name to its
DataFrame-in / DataFrame-out job built from ``plans/*`` — the glue that
lets ``run("HTGPIYAHOO", bars=…, loaded=…)`` replace an HTTP call.

Connector-layer concerns (HTTP fetch, blob put, SQL state) stay out of
the jobs: sources are injected as DataFrames (``sources/connectors.py``
builds them from fetched bytes) and sinks are the caller's write. Each
job takes an injectable ``clock`` so the ``actualizacion`` audit stamp
is reproducible (the reference stamps ``datetime.now()`` inline).

All jobs return lazy plans — nothing here triggers an action.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gpi_etl_spark.functions.strings import ticker_commodity_key
from gpi_etl_spark.plans import pipelines as P
from gpi_etl_spark.plans import sites as S
from gpi_etl_spark.plans import wasde as W
from gpi_etl_spark.operators.watermark import replace_partition


# ---------------------------------------------------------------------------
# HTGPIPROPHEDEX sub-command dispatch (HTGPIPROPHEDEX/__init__.py:29-62)
# ---------------------------------------------------------------------------

def _px_history(bars: DataFrame, loaded: DataFrame | None = None,
                clock: dt.datetime | None = None) -> DataFrame:
    return P.prophetx_price_history(bars, loaded, clock)


#: commodity name → CASE-extracted ticker-key set (HTGPIPROPHEDEX/
#: __init__.py:631-635: CORN→C, WHEAT→W/KW/MW, SOYBEAN→S/SM/BO)
_COMMODITY_KEYS: dict[str, tuple[str, ...]] = {
    "CORN": ("C",),
    "WHEAT": ("W", "KW", "MW"),
    "SOYBEAN": ("S", "SM", "BO"),
}


def _px_price(commodity: str):
    """COMMODITIES_PRICE(<commodity>) (:42-47): the shared price job
    restricted to tickers whose CASE-extracted key is in the
    commodity's key set."""
    keys = _COMMODITY_KEYS[commodity]

    def job(bars: DataFrame, loaded: DataFrame | None = None,
            clock: dt.datetime | None = None) -> DataFrame:
        out = P.prophetx_price_history(bars, loaded, clock)
        return out.filter(F.col("commodity").isin(*keys))
    return job


def _px_series(bars: DataFrame, watermark_date=None,
               clock: dt.datetime | None = None) -> DataFrame:
    """COMMODITIES_DOLLAR / ETHANOL / INDEX: single-series date-
    watermarked increments (same shape as the OILWTI feed)."""
    return P.price_series_increment(bars, "Date", watermark_date, (), clock)


def _px_iv(quotes: DataFrame, clock: dt.datetime | None = None) -> DataFrame:
    return P.prophetx_iv_wide(quotes, clock)


def _px_iv_5n(commodity: str):
    """COMMODITIES_VI_5N_<commodity> (:901-916): the IV ladder
    restricted to the commodity's key set. Contract enumeration (5
    nearest expirations) lives in ``plans/calendar.py``; the quotes
    feed is already fetched per symbol, so the job filters by the
    ticker's commodity key and widens."""
    keys = _COMMODITY_KEYS[commodity]

    def job(quotes: DataFrame, clock: dt.datetime | None = None) -> DataFrame:
        # the reference keys VI_5N rows by the ATM future symbol
        # (SymbolATM, :904), not the option ticker
        key_col = "SymbolATM" if "SymbolATM" in quotes.columns else "TickerSymbol"
        keyed = quotes.filter(ticker_commodity_key(key_col).isin(*keys))
        return P.prophetx_iv_wide(keyed, clock)
    return job


def _px_oi_volume(raw: DataFrame, clock: dt.datetime | None = None) -> DataFrame:
    return P.prophetx_oi_vol_rollup(raw, clock)


#: name → job, mirroring the reference's if-chain (:31-62) exactly
PROPHETX_COMMANDS: dict[str, Callable[..., DataFrame]] = {
    "COMMODITIES_PRICE_HISTORY_CF": _px_history,
    "COMMODITIES_PRICE_HISTORY_CC": _px_history,
    "COMMODITIES_PRICE_HISTORY_CA": _px_history,
    "COMMODITIES_PRICE_CORN": _px_price("CORN"),
    "COMMODITIES_PRICE_WHEAT": _px_price("WHEAT"),
    "COMMODITIES_PRICE_SOYBEAN": _px_price("SOYBEAN"),
    "COMMODITIES_DOLLAR": _px_series,
    "COMMODITIES_ETHANOL": _px_series,
    "COMMODITIES_INDEX": _px_series,
    "COMMODITIES_VI": _px_iv,
    "COMMODITIES_OI_VOLUME": _px_oi_volume,
    "COMMODITIES_VI_5N_CORN": _px_iv_5n("CORN"),
    "COMMODITIES_VI_5N_WHEAT": _px_iv_5n("WHEAT"),
    "COMMODITIES_VI_5N_SOYBEAN": _px_iv_5n("SOYBEAN"),
}


def prophetx(command: str, **kwargs) -> DataFrame:
    """The HTGPIPROPHEDEX dispatcher (the reference's HTTP param is
    ``name``; called ``command`` here so it can't collide with the
    endpoint name in :func:`run`). Unknown commands raise (the
    reference returns the string 'Opcion no definida'; a silent string
    is a foot-gun in a DataFrame API)."""
    try:
        job = PROPHETX_COMMANDS[command]
    except KeyError:
        raise KeyError(
            f"Opcion no definida: {command!r}; known: {sorted(PROPHETX_COMMANDS)}"
        ) from None
    return job(**kwargs)


# ---------------------------------------------------------------------------
# HTGPIWASDE (HTGPIWASDE/__init__.py:30-134)
# ---------------------------------------------------------------------------

def wasde(
    cells,
    sheet: str,
    daterelease: str,
    commodity: str = "Corn",
    sink: DataFrame | None = None,
    family: str = "supply_use",
    clock: dt.datetime | None = None,
    spark=None,
) -> DataFrame:
    """Sheet cell-grid → tidy rows; with ``sink`` given, the month
    partition reload (delete-then-insert, :74-77,124-134) is applied so
    re-released months replace their prior version.

    ``cells`` is the ``(sheet, row_idx, col_idx, value)`` frame — or
    the raw .xlsx workbook bytes (the reference's fetched payload,
    :80-86), parsed natively via ``sources.xlsx``.

    ``family='supply_use'`` covers the 8 near-identical supply/use
    parsers (:248-1196); ``family='wheat_classes'`` the transposed
    wheat-class sheet (:358-369)."""
    if isinstance(cells, (bytes, bytearray)):
        from pyspark.sql import SparkSession

        from gpi_etl_spark.sources.xls import is_xls, xls_cells_df

        sp = spark or SparkSession.getActiveSession()
        if sp is None:
            raise ValueError("pass spark= when supplying raw workbook bytes")
        payload = bytes(cells)
        if is_xls(payload):
            # legacy BIFF8 — the reference's actual WASDE payload format
            cells = xls_cells_df(sp, payload, sheet)
        else:
            from gpi_etl_spark.sources.xlsx import xlsx_cells_df

            cells = xlsx_cells_df(sp, payload, sheet)
    if family == "supply_use":
        out = W.extract_supply_use(cells, sheet, daterelease, commodity, clock=clock)
    elif family == "wheat_classes":
        out = W.extract_wheat_classes(cells, sheet, daterelease, clock=clock)
    else:
        raise ValueError(f"unknown WASDE family {family!r}")
    if sink is None:
        return out
    month = daterelease[:7]
    return replace_partition(
        sink, out, F.substring("DATERELEASE", 1, 7) == month
    )


# ---------------------------------------------------------------------------
# Site-scoring family (HTIPNEXSITE / HTIPPLSITE / HTIPPLSITECR / PGSITE)
# ---------------------------------------------------------------------------

class SiteScoring(NamedTuple):
    """Consistent return shape of the four site endpoints: ``scored``
    always; ``near`` (top-k nearest existing stores) only when a store
    table was supplied, else ``None``."""

    scored: DataFrame
    near: DataFrame | None = None


def _site_endpoint(country: str, category: str):
    """One site-scoring entry point: POIs → classify → distance →
    GEO_* widening → model forecast (NEX_MAIN), with the top-3 nearest
    existing stores when a store table is supplied (close_points,
    HTIPPLSITE/__init__.py:91-130). ``country``/``category`` are the
    endpoint's hard-wired close_points filters (e.g. HONDURAS/
    POLLOLANDIA at HTIPPLSITE/__init__.py:405).

    ``compat=True`` selects the reference's bug-for-bug classifier
    chain (``full_rules(compat=True)`` — the three :181/:234/:239
    crossover rules read ``poi_type``), mirroring wasde's
    ``grupo_mode`` switch so parity mode is reachable through
    ``engine.run`` without importing plans.sites."""
    def job(
        pois: DataFrame,
        model,
        stores: DataFrame | None = None,
        rules: Sequence[S.Rule] | None = None,
        categories: Sequence[str] | None = None,
        k: int = 3,
        compat: bool = False,
    ) -> SiteScoring:
        # model may be a fitted object, raw artifact bytes, a stream,
        # or a path — the reference streams a pickled model from blob
        # storage (HTIPNEXSITE/__init__.py:72-90) before predicting
        from gpi_etl_spark.operators.score import ensure_model

        if rules is None:
            rules = S.full_rules(compat=True) if compat else S.DEFAULT_RULES
        scored = S.score_sites(
            pois, ensure_model(model), rules=rules, categories=categories,
        )
        if stores is None:
            return SiteScoring(scored)
        near = S.close_points(
            pois.select("rst_cd", "place_ltt", "place_lgt").distinct(),
            stores, category=category, country=country, k=k,
        )
        return SiteScoring(scored, near)
    return job


# ---------------------------------------------------------------------------
# The 13 endpoints
# ---------------------------------------------------------------------------

ENDPOINTS: dict[str, Callable[..., "DataFrame | SiteScoring"]] = {
    # fixed-width NOAA SST feed (HTGPIENSO/__init__.py:68-89)
    "HTGPIENSO": P.enso_weekly,
    # CPI year×month grid → long (HTGPIINFLATUS/__init__.py:80-117)
    "HTGPIINFLATUS": P.inflation_long,
    # CFTC managed-money net positions (HTGPICFT/__init__.py:92-107)
    "HTGPICFT": P.cftc_net_positions,
    # WTI price increment (HTGPIOILWTI/__init__.py:68-92)
    "HTGPIOILWTI": lambda series, watermark_date=None, clock=None:
        P.price_series_increment(series, "Date", watermark_date, (), clock),
    # Agricensus CSV feed: drops its unnamed 'name' column (:77) then
    # date-watermarks (HTGPIAGRICENSUS/__init__.py:67-93)
    "HTGPIAGRICENSUS": lambda series, watermark_date=None, clock=None:
        P.price_series_increment(series, "date", watermark_date, ("name",), clock),
    # chart-API nested arrays → rows (HTGPISNP500/__init__.py:81-103)
    "HTGPISNP500": P.snp500_from_arrays,
    # per-symbol OHLC watermark increments (HTGPIYAHOO/__init__.py:40-96)
    "HTGPIYAHOO": P.yahoo_history,
    # futures/options feeds, 13 sub-commands (HTGPIPROPHEDEX/__init__.py:29-62)
    "HTGPIPROPHEDEX": prophetx,
    # WASDE sheet extraction + month reload (HTGPIWASDE/__init__.py:30-134)
    "HTGPIWASDE": wasde,
    # site scoring (close_points country/category per endpoint)
    "HTIPNEXSITE": _site_endpoint("GUATEMALA", "POLLOLANDIA"),
    "HTIPPLSITE": _site_endpoint("HONDURAS", "POLLOLANDIA"),
    "HTIPPLSITECR": _site_endpoint("COSTA RICA", "POLLOLANDIA"),
    "PGSITE": _site_endpoint("GUATEMALA", "POLLOLANDIA"),
}


def endpoints() -> list[str]:
    """All 13 reference entry-point names."""
    return sorted(ENDPOINTS)


def run(name: str, **kwargs):
    """Run one endpoint job by its reference name."""
    try:
        job = ENDPOINTS[name]
    except KeyError:
        raise KeyError(f"unknown endpoint {name!r}; known: {endpoints()}") from None
    return job(**kwargs)
