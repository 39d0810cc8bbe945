"""Seeded input generators for the benchmark.

Everything the engine reads is made here from one integer seed:

- ``write_tables``: the star-schema parquet tables the catalog workloads
  query (lineitem, orders, customer, supplier, part, embeddings), in the
  column layout of the engine's test data.
- ``make_vendor_cases``: each supplier_batch member's inputs — a vendor
  drop folder (csv grids for one of the six runners), the sheet_bot
  control grid, the PO-PDF drop — together with the values the outputs
  must show (per-(Branch, Item) sums, price lines after the 490→498 remap
  and the 457/453 exclusions, macro line counts, Sent vs ERROR).

Sizes are fixed by the workload (supplier grids' item counts move by at
most 10 % with the seed); the seed chooses the values, so every seed
costs about the same amount of work.
"""

from __future__ import annotations

import csv
import json
import os
from dataclasses import dataclass, field
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# catalog tables
# --------------------------------------------------------------------------

TABLE_NAMES = ("lineitem", "orders", "customer", "supplier", "part", "embeddings")
EMBED_DIM = 64
EPOCH_1992 = np.datetime64("1992-01-01", "us")
DAY_US = np.int64(86_400_000_000)


@dataclass(frozen=True)
class TableScale:
    orders: int
    parts: int
    suppliers: int
    customers: int
    embeddings: int
    max_lines: int = 7  # lines per order are 1..max_lines


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per named stream, so adding a column to
    one table never shifts the values of another."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64(key))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(day_offsets: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_1992 + day_offsets.astype(np.int64) * DAY_US, pa.timestamp("us"))


def make_tables(seed: int, scale: TableScale) -> dict[str, pa.Table]:
    """The six tables as Arrow tables (deterministic in ``seed``)."""
    r = _rng(seed, "orders")
    n_o = scale.orders
    o_date = r.integers(0, 6 * 365, n_o)  # 1992..1997
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, scale.customers, n_o, dtype=np.int64)),
            "o_orderstatus": pa.array(r.choice(np.array(["F", "O", "P"]), n_o)),
            "o_totalprice": pa.array(_money(r, 1000.0, 400000.0, n_o)),
            "o_orderdate": _dates(o_date),
            "o_orderpriority": pa.array(
                r.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_o)
            ),
        }
    )

    r = _rng(seed, "part")
    n_p = scale.parts
    retail = np.round(900.0 + np.arange(n_p) % 1000 * 0.1 + r.uniform(0, 100, n_p), 2)
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
            "p_name": pa.array([f"part {i}" for i in range(n_p)]),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_p)]),
            "p_type": pa.array(r.choice(np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"]), n_p)),
            "p_size": pa.array(r.integers(1, 51, n_p, dtype=np.int32)),
            "p_retailprice": pa.array(retail),
        }
    )

    r = _rng(seed, "lineitem")
    lines = r.integers(1, scale.max_lines + 1, n_o)
    n_l = int(lines.sum())
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    linenumber = (np.arange(n_l) - np.repeat(starts, lines) + 1).astype(np.int32)
    pkey = r.integers(0, n_p, n_l, dtype=np.int64)
    qty = r.integers(1, 51, n_l).astype(np.float64)
    # per-line price jitter around the part's retail price, 2-dp exact
    unit = retail[pkey] * r.uniform(0.9, 1.1, n_l)
    ext = np.round(unit * qty, 2)
    ship = o_date[okey] + r.integers(1, 122, n_l)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(pkey),
            "l_suppkey": pa.array(r.integers(0, scale.suppliers, n_l, dtype=np.int64)),
            "l_linenumber": pa.array(linenumber),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(ext),
            "l_discount": pa.array(r.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_l) / 100.0),
            "l_returnflag": pa.array(r.choice(np.array(["A", "N", "R"]), n_l)),
            "l_linestatus": pa.array(r.choice(np.array(["F", "O"]), n_l)),
            "l_shipdate": _dates(ship),
        }
    )

    r = _rng(seed, "customer")
    n_c = scale.customers
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_c, dtype=np.int32)),
            "c_acctbal": pa.array(_money(r, -999.0, 9999.0, n_c)),
            "c_mktsegment": pa.array(
                r.choice(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), n_c)
            ),
        }
    )

    r = _rng(seed, "supplier")
    n_s = scale.suppliers
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": pa.array(r.integers(0, 25, n_s, dtype=np.int32)),
            "s_acctbal": pa.array(_money(r, -999.0, 9999.0, n_s)),
        }
    )

    r = _rng(seed, "embeddings")
    n_e = scale.embeddings
    # clustered vectors, so the semantic-dedup blocking has real clusters
    # and near-duplicate pairs to find
    centers = r.normal(0.0, 1.0, (max(8, n_e // 50), EMBED_DIM))
    label = r.integers(0, len(centers), n_e)
    vec = centers[label] + r.normal(0.0, 0.35, (n_e, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_e, dtype=np.int64)),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    return dict(zip(TABLE_NAMES, (lineitem, orders, customer, supplier, part, embeddings)))


def write_tables(seed: int, scale: TableScale, out_dir: str) -> dict[str, str]:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns name → path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in make_tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        paths[name] = path
    return paths


# --------------------------------------------------------------------------
# supplier_batch cases
# --------------------------------------------------------------------------

RUN_DATE = date(2026, 8, 13)
LEAVINS_EDD = date(2026, 8, 17)

# (runner, supplier number, item count, store count, filled-cell share):
# one row per member, fixed, so every seed costs the same; the seed moves
# item counts by at most +-10% and chooses every value.
VENDORS = (
    ("247", "81214", 60, 36, 0.3),
    ("acme", "44602", 300, 0, 0.0),
    ("flips_big", "20000", 40, 30, 0.5),
    ("leavins", "79906", 1500, 36, 0.05),
    ("southern_cross", "80104", 80, 32, 0.3),
    ("flips_baby", "20001", 30, 24, 0.5),
)
# stores whose 2-digit label gets the '1' prefix (86 -> 186); no 1xx store
# is ever drawn, so two labels never fold onto one branch
TWO_DIGIT_STORES = (44, 55, 66, 77, 86, 88, 97)
PRICE_REMAP = {"490": "498"}
PRICE_EXCLUDE = ("457", "453")
ACME_DOCKS = {"il": (189, 436), "fl": (407, 499)}


@dataclass
class VendorCase:
    """Inputs and expected outputs of one supplier_batch operation."""

    runner: str
    vendor: str
    drop: str            # the runner's input folder
    po_dir: str = ""     # flips_baby PO csv folder
    carrier_dir: str = ""
    watch_files: dict[str, bytes] = field(default_factory=dict)  # PO PDFs to drop
    predelivered: dict[str, bytes] = field(default_factory=dict)
    control_grid: list[list[str]] = field(default_factory=list)
    status_a1: str = ""
    expected_status: str = ""        # Sent | ERROR
    delivered_pos: list[str] = field(default_factory=list)
    # (Branch, Item) -> Distro Size of the order sheet (acme: a multiset
    # of (Branch, Item, Distro Size) rows instead)
    order_sheet: dict = field(default_factory=dict)
    order_rows: list[tuple] = field(default_factory=list)
    dlpm: set[tuple[str, str, str]] = field(default_factory=set)
    flips_fees: dict[int, tuple[float | None, float | None]] = field(default_factory=dict)
    baby_rows: list[tuple] = field(default_factory=list)


def branch_fix(store: str) -> int:
    return int("1" + store) if len(store) == 2 else int(store)


def item7(item: str) -> str:
    return item if len(item) >= 7 else item.zfill(7)


def _write_csv(path: str, rows: list[list[str]]) -> None:
    width = max(len(r) for r in rows)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        for r in rows:
            w.writerow(list(r) + [""] * (width - len(r)))


def _stores(r: np.random.Generator, n: int, must: tuple[str, ...] = ()) -> list[str]:
    pool = [s for s in range(200, 500) if str(s) not in must]
    three = r.choice(pool, n - 3 - len(must), replace=False)
    two = r.choice(TWO_DIGIT_STORES, 3, replace=False)
    return list(must) + [str(s) for s in two] + [str(s) for s in sorted(three)]


def _items(r: np.random.Generator, n: int) -> list[str]:
    return [str(i) for i in r.choice(np.arange(10000, 99999), n, replace=False)]


def _jitter(r: np.random.Generator, n: int) -> int:
    return max(5, int(round(n * r.uniform(0.9, 1.1))))


def _allocation(r, path, n_items, n_stores, fill):
    """247/Leavins allocation grid; returns {(branch, item): qty}."""
    stores = _stores(r, n_stores)
    items = _items(r, n_items)
    # a few items appear on two rows; the pipeline sums them
    items += list(r.choice(items, max(1, n_items // 50), replace=False))
    rows = [["junk"] + [""] * (n_stores + 2), ["Item#", "Item Description", *stores, "Total"]]
    expected: dict[tuple[int, int], int] = {}
    col_tot = [0] * n_stores
    for item in items:
        cells, tot = [], 0
        for j, s in enumerate(stores):
            u = r.random()
            if u < fill:
                q = int(r.integers(1, 13))
                cells.append(str(q))
                tot += q
                col_tot[j] += q
                key = (branch_fix(s), int(item))
                expected[key] = expected.get(key, 0) + q
            elif u < fill + 0.02:
                cells.append("x")  # junk cell: counts as 0
            else:
                cells.append("")
        rows.append([item, f"widget {item}", *cells, str(tot)])
    rows.append(["TOTALS", "", *map(str, col_tot), str(sum(col_tot))])
    _write_csv(path, rows)
    return {k: v for k, v in expected.items() if v != 0}


def _pricesheet(r, path, n_items):
    """247 price grid with the 490->498 remap and 457/453 exclusions;
    returns {(store, item7, cost)}."""
    stores = _stores(r, 14, must=("490", "457", "453"))
    items = _items(r, n_items)
    rows = [["junk"] + [""] * (len(stores) + 2), ["Item#", "Item Name", *stores, "FOB"]]
    expected: set[tuple[str, str, str]] = set()
    for item in items:
        cells = []
        for s in stores:
            u = r.random()
            if u < 0.5:
                cents = int(r.integers(50, 5000))
                text = f"{cents // 100}.{cents % 100:02d}"
                cells.append("$" + text if u < 0.1 else text)
                if s not in PRICE_EXCLUDE:
                    expected.add((PRICE_REMAP.get(s, s), item7(item), text))
            elif u < 0.6:
                cells.append("0")
            else:
                cells.append("")
        rows.append([item, f"name {item}", *cells, "FOB"])
    rows.append(["0", "zero item row", *["1.00"] * len(stores), ""])
    rows.append(["", "blank item row", *["1.00"] * len(stores), ""])
    _write_csv(path, rows)
    return expected


def _acme(r, path, n_rows, token):
    """ACME long sheet; returns the kept (branch, item, qty) rows, sorted."""
    docks = [d for ds in ACME_DOCKS.values() for d in ds]
    keep = ACME_DOCKS[token]
    rows = [["x", "y", "dock", "Branch", "Item", "Description", "Distro Size", "Notes"]]
    expected = []
    stores = _stores(r, 30)
    for _ in range(n_rows):
        dock = int(r.choice(docks))
        store = str(r.choice(stores))
        item = str(int(r.integers(10000, 99999)))
        qty = int(r.integers(0, 25))
        rows.append(["a", "b", str(dock), store, item, f"d{item}", str(qty), "n"])
        if dock in keep and qty != 0:
            expected.append((branch_fix(store), int(item), qty))
    _write_csv(path, rows)
    return sorted(expected)


def _flips(r, path, n_big, n_baby, stores, fill, pos, carriers):
    """Flips sheet: Fob/Xdock store block, big region, 'Total Weight'
    sentinel, baby region. Returns (big {(branch, item): qty},
    fees {branch: (xdck, fob)}, baby output rows)."""
    n_stores = len(stores)
    w = 4 + n_stores + 2
    fob = [f"${int(r.integers(5, 40))}.00" for _ in stores]
    xdock = ["0" if r.random() < 0.2 else f"{int(r.integers(1, 9))}.50" for _ in stores]
    rows = [
        ["", "", "", "", "Fob"] + [""] * (w - 5),
        ["", "", "", "", *fob, "", ""],
        ["", "", "", "", "Xdock"] + [""] * (w - 5),
        ["", "", "", "", *xdock, "", ""],
        ["Item", "x", "y", "z", *stores, "Lot #", "Total"],
    ]
    big: dict[tuple[int, int], int] = {}
    for item in _items(r, n_big):
        cells = []
        for s in stores:
            if r.random() < fill:
                tenths = int(r.integers(1, 90))
                cells.append(f"{tenths // 10}.{tenths % 10}")
                big[(branch_fix(s), int(item))] = -(-tenths // 10)  # ceil
            else:
                cells.append("")
        rows.append([item, "", "", "", *cells, f"498-{item} 1234", "9"])
    rows.append(["", "", "", "Total Weight"] + [""] * (w - 4))
    fees = {
        branch_fix(s): (None if float(x) == 0 else float(x), float(f.lstrip("$")))
        for s, x, f in zip(stores, xdock, fob)
    }
    # baby region: Item | junk | desc | pack size | stores | Wgt | Total | Lot #
    rows.append(["Item", "j", "widget desc", "pack size", *stores, "Wgt", "Total", "Lot #"])
    baby = []
    for item in _items(r, n_baby):
        pack = int(r.integers(2, 13))
        lot = f"498-{int(r.integers(10000, 99999))} {int(r.integers(1000, 9999))}"
        desc = f"d{item}"
        cells = []
        for s in stores:
            if r.random() < fill:
                tenths = int(r.integers(1, 60))
                cells.append(f"{tenths // 10}.{tenths % 10}")
                v = -(-tenths // 10)  # per-cell ceil
                baby.append((int(s), desc, lot, v, pos.get(s), carriers.get(s), v * pack))
            else:
                cells.append("na" if r.random() < 0.05 else "")
        rows.append([item, "x", desc, str(pack), *cells, "9", "1", lot])
    _write_csv(path, rows)
    return big, fees, sorted(baby, key=repr)


def _southern_cross(r, path, n_items, n_stores, fill):
    """SouthernCross IBT sheet; returns {(branch, item): qty}."""
    stores = _stores(r, n_stores)
    heads = [f"{s}.00" if i % 5 == 0 else s for i, s in enumerate(stores)]
    rows = [["Item", "Description", *heads, "LOT #", "junk"]]
    expected: dict[tuple[int, int], int] = {}
    for item in _items(r, n_items):
        cells = []
        for s in stores:
            u = r.random()
            if u < fill:
                q = int(r.integers(1, 20))
                cells.append(f"{q}.0" if u < fill / 3 else str(q))
                expected[(branch_fix(s), int(item))] = q
            elif u < fill + 0.03:
                cells.append("na")
            else:
                cells.append("")
        rows.append([item, f"d{item}", *cells, "L1", "junk"])
    rows.append(["0", "zero item", *["1"] * n_stores, "L0", "junk"])
    _write_csv(path, rows)
    return expected


def _pdf(text: str) -> bytes:
    from etl_jetro_spark.sinks.pdf import write_simple_pdf_bytes

    return write_simple_pdf_bytes([text])


def _control(r, case: VendorCase, stores: list[str], missing: bool, vendors: list[str]):
    """A two-section sheet_bot control grid with this case's vendor Ready,
    other vendors already Sent, and one blank vendor row. Fills the case's
    PO drop and its expected final status."""
    cols = stores[:8]
    heads = [f"{cols[0]}/{cols[1]}"] + cols[2:]
    pos = [str(p) for p in r.choice(np.arange(80000, 99999), len(heads), replace=False)]
    cells = [p if r.random() < 0.8 else "x" for p in pos]
    if all(c == "x" for c in cells):
        cells[0] = pos[0]
    header = ["Note", "Vendor #", "Vendor Name", *heads, "PO count", "Status"]
    grid = [header]
    for v in vendors:
        if v != case.vendor:
            grid.append(["", v, f"vendor {v}", *["x"] * len(heads), "0", "Sent"])
    grid.append(["", "", "blank vendor row", *["1"] * len(heads), "", "Ready"])
    ready_row = len(grid)
    grid.append(["", f"{case.vendor}.0", case.runner, *cells, "1", "Ready"])
    grid += [["note: section 2 follows"] + [""] * (len(header) - 1)]
    grid += [["Note", "Vendor #", "Vendor Name", "114", "Status"], ["", "12345", "other", "x", "Sent"]]
    case.control_grid = grid
    case.status_a1 = f"{chr(ord('A') + len(header) - 1)}{ready_row + 1}"

    expected = list(dict.fromkeys(c for c in cells if c != "x"))
    lost = expected[int(r.integers(0, len(expected)))] if missing else None
    pre = expected[-1] if len(expected) > 1 and expected[-1] != lost else None
    for j, c in enumerate(cells):
        if c == "x" or c == lost:
            continue
        name = f"{case.vendor}-{heads[j].split('/')[0]}-{c}.pdf"
        if c == pre:
            case.predelivered.setdefault(name, _pdf(f"PO {c}"))
        elif not any(n.endswith(f"-{c}.pdf") for n in case.watch_files):
            case.watch_files[name] = _pdf(f"PO {c}")
    case.delivered_pos = sorted(p for p in expected if p != lost)
    case.expected_status = "ERROR" if missing else "Sent"


def make_vendor_cases(seed: int, root: str) -> list[VendorCase]:
    """One case per runner, in VENDORS order, written under ``root``."""
    r = _rng(seed, "supplier_batch")
    missing = set(r.choice(len(VENDORS), 2, replace=False).tolist())
    vendors = [v[1] for v in VENDORS]
    mmdd = RUN_DATE.strftime("%m%d")
    cases = []
    for k, (runner, vendor, n_items, n_stores, fill) in enumerate(VENDORS):
        drop = os.path.join(root, runner, "drop")
        os.makedirs(drop, exist_ok=True)
        case = VendorCase(runner, vendor, drop)
        n = _jitter(r, n_items)
        if runner in ("247", "leavins"):
            case.order_sheet = _allocation(r, os.path.join(drop, f"allocation {mmdd}.csv"), n, n_stores, fill)
            if runner == "247":
                case.dlpm = _pricesheet(r, os.path.join(drop, f"price {mmdd}.csv"), 40)
        elif runner == "acme":
            token = "il" if r.random() < 0.5 else "fl"
            case.order_rows = _acme(r, os.path.join(drop, f"acme {token} {mmdd}.csv"), n, token)
        elif runner == "southern_cross":
            case.order_sheet = _southern_cross(r, os.path.join(drop, f"ibt {mmdd}.csv"), n, n_stores, fill)
        else:
            stores = _stores(r, n_stores)
            # PO lines and carrier codes for most stores; the gaps come
            # out of the lookups as NULL
            po = {s: f"{s}-{int(r.integers(10000, 99999))}" for s in stores if r.random() < 0.8}
            carriers = {s: str(int(r.integers(1, 9))) for s in stores if r.random() < 0.8}
            big_n, baby_n = (n, 10) if runner == "flips_big" else (10, n)
            big, fees, baby = _flips(
                r, os.path.join(drop, f"flips salmon {mmdd}.csv"),
                big_n, baby_n, stores, fill, po, carriers,
            )
            if runner == "flips_big":
                case.order_sheet, case.flips_fees = big, fees
            else:
                case.baby_rows = baby
                case.po_dir = os.path.join(root, runner, "po")
                case.carrier_dir = os.path.join(root, runner, "carriers")
                os.makedirs(case.po_dir, exist_ok=True)
                os.makedirs(case.carrier_dir, exist_ok=True)
                with open(os.path.join(case.po_dir, "po.csv"), "w") as fh:
                    fh.write("".join(f"{line}\n" for line in po.values()))
                with open(os.path.join(case.carrier_dir, "salmon_carrier.json"), "w") as fh:
                    json.dump(carriers, fh, sort_keys=True)
        _control(r, case, _stores(r, 10), k in missing, vendors)
        cases.append(case)
    return cases
