"""Output checks, run after the timed region.

Catalog members are compared with their DuckDB oracle on the same
generated tables, normalized as the repository's differential harness
does (floats rounded to 6 places, -0.0 folded into 0.0, order-free
rows). supplier_batch operations are compared with the values the
generator wrote into their inputs. Each check returns a list of
problems; an empty list is a pass.
"""

from __future__ import annotations

import base64
import re
from datetime import date, datetime

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen import VendorCase, item7

# --------------------------------------------------------------------------
# catalog
# --------------------------------------------------------------------------


def _norm_cell(v):
    if isinstance(v, (float, np.floating)):
        v = float(v)
        return None if v != v else round(v, 6) + 0.0
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return str(v.date()) if v.time() == pd.Timestamp(0).time() else str(v)
    if isinstance(v, (date, datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_cell(x) for x in v)
    return v


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_norm_cell(v) for v in r) for r in df[cols].itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    a, b = canon(got), canon(want)
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return [f"sorted row {i}: {x} != {y}"]
    return []


# --------------------------------------------------------------------------
# supplier_batch
# --------------------------------------------------------------------------

_PAGE = re.compile(rb"/Type\s*/Page\b(?!s)")


def _read_parquet(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


FREIGHT_ITEM = "0990033"


def _adpo_triples(text: str) -> tuple[list[tuple[str, str, int]], list[str]]:
    """(sorted (branch, item7, qty) item blocks, freight-trailer branches)
    of an ADPO,X macro: an item line 'Type  B-I' is followed seven lines
    later by 'Type  Q'; each branch group ends with the freight item."""
    lines = text.split("\n")
    items, freight = [], []
    for i, ln in enumerate(lines):
        m = re.fullmatch(r"Type  (\d+)-(\d+)", ln)
        if m and m.group(2) == FREIGHT_ITEM:
            freight.append(m.group(1))
        elif m:
            items.append((m.group(1), m.group(2), int(lines[i + 7].removeprefix("Type  "))))
    return sorted(items), freight


def _dlpm_triples(text: str) -> tuple[set[tuple[str, str, str]], int]:
    """({(store, item7, cost)}, block count) of a DLPM macro: 32-line
    blocks with the key on line 1 and the cost on line 23."""
    lines = text.split("\n")
    n = len(lines) // 32
    out = set()
    for b in range(n):
        key = lines[32 * b + 1].removeprefix("Type ")
        store, item = key.split("-", 1)
        out.add((store, item, lines[32 * b + 23].removeprefix("Type ")))
    return out, n


def check_vendor(case: VendorCase, result: dict) -> list[str]:
    """Compare one operation's artifacts with the case's expected values."""
    p: list[str] = []
    m = result["manifest"]
    if case.runner == "flips_baby":
        df = _read_parquet(m["araho"])
        cols = [df[c].tolist() for c in ("Store", "DESC", "LOT#", "Value", "PO #", "carrier code", "weight")]
        got = sorted(
            ((int(s), d, lot, int(v), _none(po), _none(cc), int(w)) for s, d, lot, v, po, cc, w in zip(*cols)),
            key=repr,
        )
        if got != case.baby_rows:
            p.append(f"baby rows differ ({len(got)} vs {len(case.baby_rows)})")
        if m["rows"] != len(case.baby_rows):
            p.append(f"baby manifest rows {m['rows']} != {len(case.baby_rows)}")
    else:
        df = _read_parquet(m["order_sheet"]["parquet"])
        rows = [(int(b), int(i), int(q)) for b, i, q in zip(df["Branch"], df["Item"], df["Distro Size"])]
        if case.runner == "acme":
            if sorted(rows) != case.order_rows:
                p.append(f"acme rows differ ({len(rows)} vs {len(case.order_rows)})")
            want = [(str(b), item7(str(i)), q) for b, i, q in case.order_rows]
        else:
            got = {(b, i): q for b, i, q in rows}
            if len(got) != len(rows) or got != case.order_sheet:
                p.append(f"order sheet differs ({len(rows)} rows vs {len(case.order_sheet)})")
            want = [(str(b), item7(str(i)), q) for (b, i), q in case.order_sheet.items()]
        if m["order_sheet"]["rows"] != len(rows):
            p.append("order sheet manifest row count")
        if case.runner == "flips_big":
            for b, x, f in zip(df["Branch"], df["XDCK"], df["FOB"]):
                wx, wf = case.flips_fees[int(b)]
                if _none(x) != wx or _none(f) != wf:
                    p.append(f"fees of branch {b}: {(x, f)} != {(wx, wf)}")
                    break
        if "adpo_x" in m:
            with open(m["adpo_x"]) as fh:
                items, freight = _adpo_triples(fh.read())
            if items != sorted(want):
                p.append("ADPO,X item blocks differ")
            if sorted(freight) != sorted({b for b, _, _ in want}):
                p.append("ADPO,X freight trailers differ")
        if case.dlpm:
            with open(m["dlpm"]) as fh:
                got_dlpm, blocks = _dlpm_triples(fh.read())
            if got_dlpm != case.dlpm or blocks != len(case.dlpm):
                p.append(f"DLPM lines differ ({blocks} blocks vs {len(case.dlpm)})")

    tick = result["tick"]
    if tick["lock"] != [{"range": case.status_a1, "values": [["SENDING"]]}]:
        p.append(f"lock payload {tick['lock']}")
    if tick["final"] != [{"range": case.status_a1, "values": [[case.expected_status]]}]:
        p.append(f"final payload {tick['final']} != {case.expected_status}")
    done = sorted(po for po, s in tick["po_status"].items() if s == "done")
    if done != case.delivered_pos:
        p.append(f"delivered {done} != {case.delivered_pos}")
    with open(result["merged"], "rb") as fh:
        merged = fh.read()
    if len(_PAGE.findall(merged)) != len(case.delivered_pos):
        p.append("merged PDF page count")
    msg = result["mail"]["message"]
    att = msg["attachments"]
    if len(att) != 1 or base64.b64decode(att[0]["contentBytes"]) != merged:
        p.append("mail attachment differs from the merged PDF")
    if not all(po in msg["body"]["content"] for po in case.delivered_pos):
        p.append("mail body misses a PO")
    if len(msg["toRecipients"]) != 1 or len(msg["ccRecipients"]) != 1:
        p.append("mail recipients")
    return p


def _none(v):
    """NaN/None → None, numpy scalars → Python."""
    if v is None or (isinstance(v, float) and v != v):
        return None
    return v.item() if isinstance(v, np.generic) else v
