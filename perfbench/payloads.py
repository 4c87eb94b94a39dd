"""Seed-generated endpoint payloads and their expected outputs.

Each op kind of the ``endpoint_calls`` workload gets one payload in the
format its reference endpoint fetches (CSV, JSON, HTML table,
fixed-width text, BIFF8 ``.xls`` inside a zip), sized like the
reference's increments: ProphetX pages under the 8,000-row cap, one
8-sheet WASDE workbook, a 60-day S&P window. Beside the bytes the
generator computes, in pure Python, what the endpoint must write: the
row count and the sum of one numeric column per output. Payload sizes
are fixed per kind; the seed sets their contents and watermarks. Nothing
here imports Spark, so the generator is testable on its own. BIFF8
workbooks are built with the repo's test writer, ``tests/xls_fixture.py``.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import math
import random
import zipfile
from dataclasses import dataclass, field

#: the audit stamp every job writes (the reference stamps ``now()``)
CLOCK = dt.datetime(2026, 1, 15, 12, 0, 0)

PX_COMMANDS = (
    "COMMODITIES_PRICE_HISTORY_CF", "COMMODITIES_PRICE_HISTORY_CC",
    "COMMODITIES_PRICE_HISTORY_CA", "COMMODITIES_PRICE_CORN",
    "COMMODITIES_PRICE_WHEAT", "COMMODITIES_PRICE_SOYBEAN",
    "COMMODITIES_DOLLAR", "COMMODITIES_ETHANOL", "COMMODITIES_INDEX",
    "COMMODITIES_VI", "COMMODITIES_OI_VOLUME", "COMMODITIES_VI_5N_CORN",
    "COMMODITIES_VI_5N_WHEAT", "COMMODITIES_VI_5N_SOYBEAN",
)
SITE_ENDPOINTS = {
    "HTIPNEXSITE": "GUATEMALA", "HTIPPLSITE": "HONDURAS",
    "HTIPPLSITECR": "COSTA RICA", "PGSITE": "GUATEMALA",
}
ENDPOINTS = (
    "HTGPIENSO", "HTGPIINFLATUS", "HTGPICFT", "HTGPIOILWTI",
    "HTGPIAGRICENSUS", "HTGPISNP500", "HTGPIYAHOO", "HTGPIWASDE",
    *SITE_ENDPOINTS,
)
#: every op kind: 12 endpoints plus the 14 HTGPIPROPHEDEX sub-commands
KINDS = tuple(ENDPOINTS) + tuple(f"HTGPIPROPHEDEX:{c}" for c in PX_COMMANDS)

#: ticker → commodity key, as ``functions.strings.ticker_commodity_key``
#: derives it (5/7-char symbols take their 2nd character)
PX_TICKERS = {"@CU25": "C", "@WU25": "W", "@SU25": "S", "@SMZ25": "SM",
              "@KWU25": "KW", "@BOZ25": "BO"}
COMMODITY_KEYS = {"CORN": ("C",), "WHEAT": ("W", "KW", "MW"),
                  "SOYBEAN": ("S", "SM", "BO")}
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "June", "July", "Aug", "Sep",
          "Oct", "Nov", "Dec")
MON3 = ("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP",
        "OCT", "NOV", "DEC")
WASDE_VALUE_COLS = 7


@dataclass(frozen=True)
class Expected:
    """What one written output must hold: ``rows`` rows whose
    ``column`` values sum to ``total``."""

    rows: int
    column: str
    total: float


@dataclass
class Payload:
    """One op kind's input: the fetched bytes, the loaded state the
    watermark is computed from, call parameters, and the expected
    outputs by name."""

    kind: str
    url: str
    body: bytes
    records: int
    expected: dict[str, Expected]
    params: dict = field(default_factory=dict)
    loaded: list[tuple] = field(default_factory=list)


def _r(x: float, nd: int = 2) -> float:
    return round(x, nd)


def _csv(header, rows) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode()


def _days(n: int, start: dt.date) -> list[dt.date]:
    return [start + dt.timedelta(days=i) for i in range(n)]


# -- simple date-watermarked series -----------------------------------------

def _series(rng, kind, date_col, extra_name=False):
    n = 2200
    days = _days(n, dt.date(2016, 1, 1))
    wm = days[n - rng.randint(60, 70)]
    closes = [_r(rng.uniform(20, 120), 4) for _ in days]
    header = (["name"] if extra_name else []) + [date_col, "Close"]
    rows = [
        (["feed"] if extra_name else []) + [d.isoformat(), c]
        for d, c in zip(days, closes)
    ]
    new = [c for d, c in zip(days, closes) if d > wm]
    return Payload(
        kind, f"https://feeds.example/{kind}.csv", _csv(header, rows), n,
        {"out": Expected(len(new), "Close", sum(new))},
        params={"date_col": date_col, "watermark_date": wm},
    )


# -- HTGPIENSO: NOAA weekly SST fixed-width file ----------------------------

_ENSO_WIDTHS = (5, 4, 4, 5, 4, 4, 5, 4, 4, 5, 4, 4)


def _enso(rng, kind):
    start = dt.date(1990, 1, 3)
    weeks = [start + dt.timedelta(weeks=i) for i in range(1850)]
    year = weeks[-1].year - 1
    lines = ["Weekly SST data starts week centered on 3Jan1990", "", " " * 15
             + "Nino1+2      Nino3        Nino34        Nino4",
             " Week          SST SSTA     SST SSTA     SST SSTA     SST SSTA"]
    expect = []
    for w in weeks:
        vals = []
        for _ in range(4):
            vals += [_r(rng.uniform(20, 29), 1), _r(rng.uniform(-2, 2), 1), "x"]
        week = f"{w.day:02d}{MON3[w.month - 1]}{w.year}"
        lines.append(" " + week.ljust(9) + "".join(
            str(v).rjust(wd) for v, wd in zip(vals, _ENSO_WIDTHS)))
        if w.year == year:
            expect.append(vals[6])  # SST_NINO34
    body = ("\n".join(lines) + "\n").encode()
    return Payload(kind, "https://noaa.example/wksst8110.for", body, len(weeks),
                   {"out": Expected(len(expect), "SST_NINO34", sum(expect))},
                   params={"year": year})


# -- HTGPIINFLATUS: CPI year x month HTML grid -------------------------------

def _inflatus(rng, kind):
    years = list(range(1914, 2026))
    wm = dt.date(rng.randint(2010, 2011), 12, 31)
    cells = []
    expect = []
    for y in years:
        row = []
        for m in range(1, 13):
            if y == years[-1] and m > 9:
                row.append("–" if m == 10 else "")
                continue
            v = _r(rng.uniform(-3, 9), 1)
            row.append(str(v))
            eom = dt.date(y + (m == 12), m % 12 + 1, 1) - dt.timedelta(days=1)
            if eom > wm:
                expect.append(v)
        cells.append((y, row))
    html = ["<html><body><table>",
            "<tr><th>Year</th>" + "".join(f"<th>{m}</th>" for m in MONTHS) + "</tr>"]
    for y, row in cells:
        html.append(f"<tr><td>{y}</td>" + "".join(f"<td>{v}</td>" for v in row) + "</tr>")
    html.append("</table></body></html>")
    return Payload(kind, "https://cpi.example/table.html",
                   "\n".join(html).encode(), len(years),
                   {"out": Expected(len(expect), "Inflation", sum(expect))},
                   params={"watermark_date": wm})


# -- HTGPICFT: yearly CFTC zip holding one .xls sheet ------------------------

def _cftc(rng, kind):
    # the payload bytes depend on tests/xls_fixture.py; they are
    # pinned by test_payload_bytes_are_pinned
    from tests import xls_fixture as X

    markets = 25
    year = 2025
    weeks = [dt.date(year, 1, 7) + dt.timedelta(weeks=i) for i in range(52)]
    wm = weeks[rng.randint(38, 40)]
    header = ["Market_and_Exchange_Names", "Report_Date_as_MM_DD_YYYY",
              "M_Money_Positions_Long_ALL", "M_Money_Positions_Short_ALL"]
    strings = header + [f"MARKET {i}" for i in range(markets)]
    recs = [X.label_sst(0, c, c) for c in range(len(header))]
    total = 0
    n = 0
    r = 1
    for w in weeks:
        for m in range(markets):
            long_, short = rng.randint(0, 90000), rng.randint(0, 90000)
            recs += [X.label_sst(r, 0, len(header) + m),
                     X.label(r, 1, w.isoformat()),
                     X.rk_int(r, 2, long_), X.rk_int(r, 3, short)]
            if w > wm:
                total += long_ - short
                n += 1
            r += 1
    xls = X.build_xls({"annualof": recs}, strings, ssz=4096)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        # a fixed member timestamp keeps the bytes a function of the seed
        zf.writestr(zipfile.ZipInfo("annualof.xls", (2025, 12, 31, 0, 0, 0)), xls,
                    compress_type=zipfile.ZIP_DEFLATED)
    return Payload(kind, f"https://cftc.example/fut_disagg_xls_{year}.zip",
                   buf.getvalue(), r - 1, {"out": Expected(n, "calculo", total)},
                   params={"watermark_date": wm, "year": year})


# -- HTGPISNP500: chart-API JSON, 60-day window -------------------------------

def _snp500(rng, kind):
    end = dt.date(2025, 12, 31)
    days = [end - dt.timedelta(days=i) for i in range(59, -1, -1)]
    days = [d for d in days if d.weekday() < 5]
    start = days[rng.randint(10, 12)]
    ts = [int(dt.datetime(d.year, d.month, d.day, 14, 30,
                          tzinfo=dt.timezone.utc).timestamp()) for d in days]
    close = [None if rng.random() < 0.05 else _r(rng.uniform(4000, 6000))
             for _ in days]
    doc = {"chart": {"result": [{"meta": {"symbol": "^GSPC"},
                                 "timestamp": ts, "close": close}]}}
    new = [c for d, c in zip(days, close) if d > start and c is not None]
    return Payload(kind, "https://chart.example/v8/finance/chart/%5EGSPC",
                   json.dumps(doc).encode(), len(days),
                   {"out": Expected(len(new), "Close", sum(new))},
                   params={"start": start})


# -- HTGPIYAHOO: per-symbol daily bars against loaded history ----------------

def _yahoo(rng, kind):
    symbols = [f"SYM{i:02d}" for i in range(10)]
    days = _days(250, dt.date(2025, 1, 1))
    rows, loaded, new = [], [], []
    for i, s in enumerate(symbols):
        cut = None if i == 0 else days[rng.randint(200, 210)]
        if cut is not None:
            loaded += [(s, d.isoformat()) for d in days if d <= cut]
        for d in days:
            c = None if rng.random() < 0.03 else _r(rng.uniform(10, 300), 4)
            rows.append((d.isoformat(), "" if c is None else c, s))
            if c is not None and (cut is None or d > cut):
                new.append(c)
    return Payload(kind, "https://quotes.example/yahoo.csv",
                   _csv(["Date", "Close", "Symbol"], rows), len(rows),
                   {"out": Expected(len(new), "Close", sum(new))},
                   loaded=loaded)


# -- HTGPIWASDE: one 8-sheet BIFF8 workbook -----------------------------------

WASDE_SHEETS = {"Page 11": "Wheat", "Page 12": "Wheat", "Page 22": "Corn",
                "Page 23": "Corn", "Page 24": "Rice", "Page 28": "Soybeans",
                "Page 29": "Soybean Meal", "Page 30": "Soybean Oil"}


def _wasde(rng, kind):
    # the payload bytes depend on tests/xls_fixture.py; they are
    # pinned by test_payload_bytes_are_pinned
    from tests import xls_fixture as X

    strings: list[str] = []

    def sst(s: str) -> int:
        strings.append(s)
        return len(strings) - 1

    sheets = {}
    n = 0
    total = 0.0
    for name, crop in WASDE_SHEETS.items():
        recs = [X.label_sst(0, 0, sst("WASDE-668")),
                X.label_sst(1, 0, sst(f"World {crop} Supply and Use 1/")),
                X.label_sst(2, 0, sst("Million Metric Tons"))]
        r = 3
        for block in ("2024/25 Est.", "2025/26 Proj."):
            recs += [X.label_sst(r, 0, sst("Beginning Stocks")),
                     X.label_sst(r, 1, sst(block))]
            r += 1
            for g in range(21):
                recs.append(X.label_sst(r, 0, sst(f"Country {g}")))
                for c in range(1, WASDE_VALUE_COLS + 1):
                    v = _r(rng.uniform(0, 500), 2)
                    recs.append(X.number(r, c, v))
                    if c == 2:  # Production
                        total += v
                n += 1
                r += 1
        sheets[name] = recs
    body = X.build_xls(sheets, strings, ssz=4096)
    return Payload(kind, "https://usda.example/wasde0126.xls", body, n,
                   {"out": Expected(n, "Production", total)},
                   params={"daterelease": "2026-01-12",
                           "commodity": dict(WASDE_SHEETS)})


# -- site scoring: Places-style POI JSON + the store dimension ---------------

def _site(rng, kind):
    country = SITE_ENDPOINTS[kind]
    n_sites = 45
    pois, banked = [], 0
    for s in range(n_sites):
        lat, lon = 14.5 + rng.uniform(-0.5, 0.5), -90.5 + rng.uniform(-0.5, 0.5)
        n_bank = rng.choice((0, 0, 1, 2))
        banked += n_bank > 0
        kinds = [("BANCO INDUSTRIAL", "BANK")] * n_bank + [
            ("PIZZA HUT", "RESTAURANT"), ("FARMACIA CRUZ VERDE", "PHARMACY"),
            ("TIENDA LA BENDICION", "STORE"),
        ][: 1 + s % 3]
        for j, (nm, tp) in enumerate(kinds):
            pois.append({
                "rst_cd": f"S{s:03d}", "place_ltt": lat, "place_lgt": lon,
                "poi_id": f"S{s:03d}-{j}", "poi_name": nm, "poi_type": tp,
                "poi_ltt": lat + rng.uniform(-0.002, 0.002),
                "poi_lgt": lon + rng.uniform(-0.002, 0.002),
            })
    stores = []
    for c in SITE_ENDPOINTS.values():
        for i in range(4):
            stores.append((f"{c[:3]}{i}", 14.5 + rng.uniform(-0.5, 0.5),
                           -90.5 + rng.uniform(-0.5, 0.5), "POLLOLANDIA", c))
        stores.append((f"{c[:3]}X", 14.5, -90.5, "OTRA", c))
    n_match = len({s for s in stores if s[3] == "POLLOLANDIA" and s[4] == country})
    k = min(3, n_match)
    near = Expected(n_sites * k, "row_index", n_sites * k * (k + 1) / 2)
    body = json.dumps({"status": "OK", "results": pois}).encode()
    return Payload(kind, f"https://places.example/nearby?site={kind}", body,
                   len(pois),
                   {"scored": Expected(n_sites, "forecast", float(banked)),
                    "near": near},
                   loaded=stores)


# -- HTGPIPROPHEDEX sub-commands ----------------------------------------------

def _px_bars(rng, kind, command):
    tickers = list(PX_TICKERS)
    n_days = 400
    days = _days(n_days, dt.date(2024, 1, 1))
    rows, loaded, keyed = [], [], []
    cuts = {}
    for t in tickers:
        key = PX_TICKERS[t]
        # one key is new (no loaded history), the rest load all but
        # their last ~40 days
        cuts[key] = None if key == "BO" else days[n_days - rng.randint(35, 45)]
        for d in days:
            oi = rng.choice(("---", str(rng.randint(1, 9999))))
            vol = str(rng.randint(0, 5000))
            c = _r(rng.uniform(2, 20), 4)
            rows.append((t, d.isoformat(), oi, vol, c))
            keyed.append((key, d, c, oi))
    for key, cut in cuts.items():
        if cut is not None:
            loaded += [(t, d.isoformat()) for t in tickers
                       if PX_TICKERS[t] == key for d in days if d <= cut]
    body = _csv(["TickerSymbol", "Date", "OI", "Volume", "Close"], rows)
    url = f"https://prophetx.example/{command}"
    if command == "COMMODITIES_OI_VOLUME":
        per_day = {d for _, d, _, _ in keyed}
        oi = sum(0 if o == "---" else int(o) for _, _, _, o in keyed)
        return Payload(kind, url, body, len(rows),
                       {"out": Expected(len(per_day), "OI", float(oi))},
                       params={"command": command})
    keys = None
    if not command.startswith("COMMODITIES_PRICE_HISTORY"):
        keys = COMMODITY_KEYS[command.rsplit("_", 1)[1]]
    new = [c for k, d, c, _ in keyed
           if (keys is None or k in keys) and (cuts[k] is None or d > cuts[k])]
    return Payload(kind, url, body, len(rows),
                   {"out": Expected(len(new), "Close", sum(new))},
                   params={"command": command}, loaded=loaded)


def _px_series(rng, kind, command):
    p = _series(rng, kind, "Date")
    p.url = f"https://prophetx.example/{command}"
    p.params["command"] = command
    return p


def _px_iv(rng, kind, command):
    futs = ["@CU25", "@WU25", "@SU25", "@KWU25"]
    keys = (None if command == "COMMODITIES_VI"
            else COMMODITY_KEYS[command.rsplit("_", 1)[1]])
    days = _days(200, dt.date(2024, 1, 1))
    strikes = [rng.randint(300, 700) for _ in range(3)]
    rows, skew, dates = [], 0.0, set()
    for d in days:
        for f in futs:
            for k in strikes:
                for leg in "CP":
                    if rng.random() < 0.1:
                        continue
                    v = _r(rng.uniform(0.1, 0.6), 4)
                    rows.append((f"{f}{leg}{k}.IV", f, d.isoformat(), v))
                    if keys is None or PX_TICKERS[f] in keys:
                        dates.add(d)
                        skew += v if leg == "C" else -v
    body = _csv(["TickerSymbol", "SymbolATM", "Date", "Close"], rows)
    return Payload(kind, f"https://prophetx.example/{command}", body, len(rows),
                   {"out": Expected(len(dates), "Skew", skew)},
                   params={"command": command})


def _prophetx(rng, kind):
    command = kind.split(":", 1)[1]
    if command in ("COMMODITIES_DOLLAR", "COMMODITIES_ETHANOL",
                   "COMMODITIES_INDEX"):
        return _px_series(rng, kind, command)
    if "_VI" in command:
        return _px_iv(rng, kind, command)
    return _px_bars(rng, kind, command)


_GENERATORS = {
    "HTGPIENSO": _enso, "HTGPIINFLATUS": _inflatus, "HTGPICFT": _cftc,
    "HTGPIOILWTI": lambda rng, k: _series(rng, k, "Date"),
    "HTGPIAGRICENSUS": lambda rng, k: _series(rng, k, "date", extra_name=True),
    "HTGPISNP500": _snp500, "HTGPIYAHOO": _yahoo, "HTGPIWASDE": _wasde,
    **{name: _site for name in SITE_ENDPOINTS},
}


def generate(seed: int) -> dict[str, Payload]:
    """One payload per op kind, a pure function of ``seed``."""
    out = {}
    for kind in KINDS:
        rng = random.Random(f"{seed}:{kind}")
        gen = _GENERATORS.get(kind, _prophetx)
        out[kind] = gen(rng, kind)
    return out


def read_csv_output(files: list[str]) -> tuple[list[str], list[list[str]]]:
    """Header and rows of a CSV sink directory's part files."""
    header: list[str] = []
    rows: list[list[str]] = []
    for name in sorted(files):
        with open(name, newline="") as fh:
            r = csv.reader(fh)
            h = next(r, None)
            if h is None:
                continue
            header = h
            rows.extend(r)
    return header, rows


def check_output(expected: Expected, header: list[str], rows: list[list[str]]) -> str | None:
    """None when the rows match ``expected``, else a one-line reason."""
    if len(rows) != expected.rows:
        return f"{len(rows)} rows, expected {expected.rows}"
    if expected.column not in header:
        return f"column {expected.column!r} missing from {header}"
    i = header.index(expected.column)
    got = sum(float(r[i]) for r in rows if r[i] != "")
    if not math.isclose(got, expected.total, rel_tol=1e-9, abs_tol=1e-6):
        return f"sum({expected.column}) = {got!r}, expected {expected.total!r}"
    return None
