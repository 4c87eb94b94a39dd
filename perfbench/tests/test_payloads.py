import csv
import hashlib
import io

import payloads as P


def test_same_seed_same_payloads():
    a, b = P.generate(7), P.generate(7)
    assert list(a) == list(P.KINDS)
    assert {k: (p.body, p.expected, p.params, p.loaded) for k, p in a.items()} == {
        k: (p.body, p.expected, p.params, p.loaded) for k, p in b.items()}


def test_payload_bytes_are_pinned():
    """Across processes and clock seconds too (a zip member's timestamp
    once leaked the wall clock into the CFTC payload)."""
    h = hashlib.sha256()
    for kind, p in P.generate(7).items():
        h.update(kind.encode())
        h.update(p.body)
    assert h.hexdigest()[:16] == "aa52c1d27759c61e"


def test_other_seed_other_payloads():
    a, b = P.generate(7), P.generate(8)
    assert all(a[k].body != b[k].body for k in P.KINDS)


def test_all_endpoints_and_subcommands_covered():
    assert len(P.KINDS) == 26
    assert len(P.ENDPOINTS) == 12 and len(P.PX_COMMANDS) == 14


def test_series_expectation_matches_its_csv():
    p = P.generate(3)["HTGPIOILWTI"]
    rows = list(csv.DictReader(io.StringIO(p.body.decode())))
    wm = p.params["watermark_date"].isoformat()
    new = [float(r["Close"]) for r in rows if r["Date"] > wm]
    assert p.expected["out"].rows == len(new) and p.records == len(rows)
    assert P.check_output(p.expected["out"], ["Date", "Close"],
                          [["x", str(v)] for v in new]) is None
    assert P.check_output(p.expected["out"], ["Date", "Close"], [["x", "1"]]) is not None
