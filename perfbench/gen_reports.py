"""Seeded generator for the three messy report CSVs (FIXTURES.md A1-A3).

Pure Python: no Spark, nothing imported from the package, so the
expected counts are an independent prediction of what
``pipelines.job.run_batch`` must produce.

Noise covered: exact and case/padding duplicates, every NA-token
spelling, ``$1,234.56`` / ``(123.45)`` amounts, mostly-null rows,
missing critical columns, order-id conflicts (2-3 differing rows per
id), the International report's embedded second header plus a
no-header variant, and one ISO-8859-1 encoded file (the Sale report).

``expected_*`` simulate the cleaning steps row by row (dedup, <50 %-null
filter, numeric gate, date parse, critical dropna, conflict split) on
the values Spark's CSV reader sees: an empty field reads as NULL, every
other field as its literal text.
"""

from __future__ import annotations

import csv
import io
import random
import re
from dataclasses import dataclass, field

NA_TOKENS = (" ", "", "NA", "na", "n/a", "N/A", "n/A", "N/a", "null", "Null", "NULL")
_NA_SET = {t.strip() for t in NA_TOKENS}
# tokens that are not empty in the CSV, so the reader keeps them as text
_NA_TEXT = [t for t in NA_TOKENS if t]

AMAZON_COLS = [
    "index", "Order ID", "Date", "Status", "Fulfilment", "Sales Channel",
    "ship-service-level", "Style", "SKU", "Category", "Size", "ASIN",
    "Courier Status", "Qty", "currency", "Amount", "ship-city", "ship-state",
    "ship-postal-code", "ship-country", "promotion-ids", "B2B", "fulfilled-by",
    "Unnamed: 22",
]
AMAZON_DROP = {"Unnamed: 22", "promotion-ids", "fulfilled-by", "Style", "currency", "index"}
AMAZON_LOWER = {"Status", "Courier Status", "Fulfilment", "B2B", "ship-state", "ship-city"}
# raw header → cleaned name, for the columns the pipeline keeps
AMAZON_KEEP = [c for c in AMAZON_COLS if c not in AMAZON_DROP]
AMAZON_CRITICAL = ["Order ID", "Amount", "Date", "Qty", "Status", "Fulfilment"]

SALE_COLS = ["index", "SKU Code", "Design No.", "Stock", "Category", "Size", "Color"]
INTL_COLS = ["index", "DATE", "Months", "CUSTOMER", "Style", "SKU", "Size", "PCS", "RATE", "GROSS AMT"]
# the embedded header's cells under INTL_COLS[1:] (index cell is a number)
INTL_PART2_HEADER = ["CUSTOMER", "DATE", "Style", "SKU", "PCS", "RATE", "GROSS AMT", "Stock", "Size"]

FILE_NAMES = {
    "amazon": "Amazon Sale Report_2022-07-01_10-00-00.csv",
    "sale": "Sale Report_2022-07-01_10-00-00.csv",
    "international": "International Sale Report_2022-07-01_10-00-00.csv",
    "international_noheader": "International Sale Report_2022-07-02_10-00-00.csv",
}

_STATUS = ["Shipped", "Cancelled", "Shipped - Delivered to Buyer", "Pending", "Shipping"]
_CATEGORY = ["Set", "kurta", "Western Dress", "Top", "Ethnic Dress", "Blouse", "Bottom", "Saree"]
_SIZES = ["XS", "S", "M", "L", "XL", "XXL", "3XL", "Free"]
_CITIES = ["MUMBAI", "BENGALURU", "Hyderabad", "new delhi", "Chennai", "PUNE", "Kolkata"]
_STATES = ["MAHARASHTRA", "KARNATAKA", "Telangana", "delhi", "TAMIL NADU", "West Bengal"]
_COLORS = ["Red", "Blue", "Navy", "Green", "Café", "Crème", "Beige", "Pêche", "Black"]
_CUSTOMERS = ["REVATHY LOGANATHAN", "Mulberries boutique", "AMANI CONCEPT", "vaharsha boutique", "RUNWAY"]
_MONTHS = ["jan", "FEB ", "Mar", "apr", "2022-03-01", "MAY", "jun", "??"]


@dataclass
class Drop:
    """One generated report file: its bytes and the row counts the
    pipeline must produce per output table."""

    kind: str
    name: str
    data: bytes
    expected: dict[str, int] = field(default_factory=dict)


# ---------------------------------------------------------------- values

def _pad(rng: random.Random, s: str) -> str:
    r = rng.random()
    if r < 0.1:
        return f" {s} "
    if r < 0.2:
        return s.upper()
    if r < 0.3:
        return s.lower()
    return s


def _date(rng: random.Random) -> str:
    m, d = rng.randint(3, 6), rng.randint(1, 28)
    fmt = rng.random()
    if fmt < 0.6:
        return f"{m:02d}-{d:02d}-22"
    if fmt < 0.85:
        return f"{m:02d}/{d:02d}/2022"
    return f"2022-{m:02d}-{d:02d}"


def _amount(rng: random.Random) -> str:
    v = rng.randint(19900, 599900) / 100
    r = rng.random()
    if r < 0.15:
        return f"${v:,.2f}"
    if r < 0.22:
        return f"({v:.2f})"
    if r < 0.3:
        return f" {v:.3f} "
    return f"{v:.2f}"


def _na(rng: random.Random) -> str:
    return rng.choice(_NA_TEXT)


def _to_csv(header: list[str], rows: list[list[str]], encoding: str) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode(encoding)


# ------------------------------------------------------------- generators

def _amazon_row(rng: random.Random, oid: str) -> list[str]:
    qty = str(rng.randint(0, 5))
    promo = "" if rng.random() < 0.6 else "Amazon PLCC Free-Financing Universal Merchant AAT-WNKTBO3K27EJC,IN Core Free Shipping"
    return [
        "", oid, _date(rng), _pad(rng, rng.choice(_STATUS)),
        _pad(rng, rng.choice(["Amazon", "Merchant"])),
        rng.choice(["Amazon.in", "Non-Amazon"]), rng.choice(["Standard", "Expedited"]),
        f"SET{rng.randint(100, 999)}", f"JNE{rng.randint(1000, 3999)}-KR-{rng.choice(_SIZES)}",
        rng.choice(_CATEGORY), rng.choice(_SIZES), f"B0{rng.randint(10**7, 10**8 - 1)}",
        rng.choice(["Shipped", "Unshipped", "Cancelled", ""]), qty, "INR", _amount(rng),
        _pad(rng, rng.choice(_CITIES)), _pad(rng, rng.choice(_STATES)),
        f"{rng.randint(110001, 799999)}.0", "IN", promo, rng.choice(["True", "False"]),
        rng.choice(["Easy Ship", ""]), "",
    ]


def gen_amazon(seed: int, rows: int) -> Drop:
    """A1: Amazon Sale Report, UTF-8, ``rows`` data lines (approx.)."""
    rng = random.Random(f"amazon:{seed}")
    out: list[list[str]] = []
    n_ids = max(1, int(rows * 0.86))
    for i in range(n_ids):
        oid = f"{rng.randint(171, 408)}-{rng.randint(10**6, 10**7 - 1)}-{i:07d}"
        row = _amazon_row(rng, oid)
        out.append(row)
        r = rng.random()
        if r < 0.05:  # order-id conflict: 1-2 more rows that differ
            for _ in range(rng.randint(1, 2)):
                alt = list(row)
                alt[AMAZON_COLS.index("Amount")] = _amount(rng)
                alt[AMAZON_COLS.index("SKU")] = f"JNE{rng.randint(1000, 3999)}-KR-XL"
                out.append(alt)
        elif r < 0.08:  # one critical column missing or unparseable
            c = rng.choice(AMAZON_CRITICAL)
            bad = list(row)
            bad[AMAZON_COLS.index(c)] = (
                rng.choice(["TBD", "13/45/2022", ""]) if c == "Date" else _na(rng)
            )
            out[-1] = bad
        elif r < 0.10:  # mostly-null: only a handful of fields filled
            sparse = [""] * len(AMAZON_COLS)
            for c in ("Order ID", "Date", "Status", "Qty", "Amount", "ship-country"):
                sparse[AMAZON_COLS.index(c)] = row[AMAZON_COLS.index(c)]
            out[-1] = sparse
    # exact duplicates and duplicates that differ only in case/padding of
    # the lower-trimmed columns (they collapse after lower(trim()))
    for _ in range(int(rows * 0.04)):
        src = list(rng.choice(out))
        if rng.random() < 0.5:
            j = AMAZON_COLS.index("Status")
            src[j] = f"  {src[j].upper()}" if src[j].strip() else src[j]
        out.insert(rng.randint(0, len(out)), src)
    for i, row in enumerate(out):
        row[0] = str(i)
    return Drop("amazon", FILE_NAMES["amazon"], _to_csv(AMAZON_COLS, out, "utf-8"),
                expected_amazon(out))


def gen_sale(seed: int, rows: int) -> Drop:
    """A2: Sale Report, ISO-8859-1 (accented colours)."""
    rng = random.Random(f"sale:{seed}")
    out: list[list[str]] = []
    for i in range(int(rows * 0.92)):
        design = f"AN{rng.randint(100, 999)}"
        row = [
            "", f"{design}-{rng.choice(['RED', 'BLUE', 'NAVY'])}-{rng.choice(_SIZES)}",
            design, str(rng.randint(0, 30)) if rng.random() > 0.03 else _na(rng),
            rng.choice(["KURTA", "SET", "TOP", "BLOUSE"]), rng.choice(_SIZES),
            rng.choice(_COLORS),
        ]
        if rng.random() < 0.03:  # mostly null
            row = ["", row[1], "", "", "", row[5], ""]
        elif rng.random() < 0.05:  # NA tokens in free-text columns
            row[6] = _na(rng)
        out.append(row)
    for _ in range(int(rows * 0.08)):
        out.insert(rng.randint(0, len(out)), list(rng.choice(out)))
    for i, row in enumerate(out):
        row[0] = str(i)
    return Drop("sale", FILE_NAMES["sale"], _to_csv(SALE_COLS, out, "iso-8859-1"),
                expected_sale(out))


def _intl_part1_row(rng: random.Random) -> list[str]:
    pcs = str(rng.randint(1, 9)) if rng.random() > 0.04 else ""
    return [
        "", f"{rng.randint(6, 12):02d}-{rng.randint(1, 28):02d}-21", rng.choice(_MONTHS),
        rng.choice(_CUSTOMERS), f"MEN{rng.randint(5000, 5999)}",
        f"MEN{rng.randint(5000, 5999)}-KR-{rng.choice(_SIZES)}", rng.choice(_SIZES),
        pcs, f"{rng.randint(300, 900)}.00", f"${rng.randint(1000, 9999):,}.00",
    ]


def _intl_part2_row(rng: random.Random) -> list[str]:
    return [
        "", rng.choice(_CUSTOMERS), f"{rng.randint(1, 12):02d}/{rng.randint(1, 28):02d}/2022",
        f"JNE{rng.randint(3000, 3999)}", f"JNE{rng.randint(3000, 3999)}-KR-{rng.choice(_SIZES)}",
        str(rng.randint(1, 5)), f"{rng.randint(300, 900)}.00",
        f"{rng.randint(1000, 9999)}.00" if rng.random() > 0.05 else _na(rng),
        str(rng.randint(0, 40)), rng.choice(_SIZES),
    ]


def gen_international(seed: int, rows: int, embedded_header: bool = True) -> Drop:
    """A3: International Sale Report; part1 rows, then (when
    ``embedded_header``) a second header row and part2 rows."""
    kind = "international" if embedded_header else "international_noheader"
    rng = random.Random(f"{kind}:{seed}")
    n1 = int(rows * (0.6 if embedded_header else 1.0))
    part1 = [_intl_part1_row(rng) for _ in range(n1)]
    part2 = [_intl_part2_row(rng) for _ in range(rows - n1)] if embedded_header else []
    for part in (part1, part2):
        for _ in range(int(len(part) * 0.05)):  # mostly-null rows
            part.insert(rng.randint(0, len(part)), ["", "", "", rng.choice(_CUSTOMERS), "", "", "", "", "", ""])
    out = part1 + ([["", *INTL_PART2_HEADER]] if embedded_header else []) + part2
    for i, row in enumerate(out):
        row[0] = str(i)
    # exact duplicates (index included: this pipeline dedups before it
    # drops the index), each inserted within its own row-group
    split = n1 + int(n1 * 0.05) if embedded_header else len(out)
    for _ in range(int(rows * 0.04)):
        j = rng.randrange(len(out))
        if j == split:
            continue
        lo, hi = (0, split) if j < split else (split + 1, len(out))
        out.insert(rng.randint(lo, hi), list(out[j]))
        split += j < split
    return Drop(kind, FILE_NAMES[kind], _to_csv(INTL_COLS, out, "utf-8"),
                expected_international(out))


def gen_drops(seed: int, amazon_rows: int) -> list[Drop]:
    """The four drop files of one workload seed. Sale and International
    reports scale with the Amazon one, as in the Kaggle dataset."""
    return [
        gen_amazon(seed, amazon_rows),
        gen_sale(seed, max(8, amazon_rows // 4)),
        gen_international(seed, max(8, amazon_rows // 10), embedded_header=True),
        gen_international(seed, max(8, amazon_rows // 10), embedded_header=False),
    ]


# ------------------------------------------------------------- simulation

_NUMERIC = re.compile(r"^[0-9]+(\.[0-9]+)?$")
_NOISE = str.maketrans("", "", "$,() \t\n\x0b\f\r")
_DATE_PATTERNS = [
    re.compile(r"^(\d{4})-(\d{2})-(\d{2})$"),  # yyyy-MM-dd
    re.compile(r"^(\d{2})-(\d{2})-(\d{2})$"),  # MM-dd-yy
    re.compile(r"^(\d{2})/(\d{2})/(\d{4})$"),  # MM/dd/yyyy
]


def _cell(v: str) -> str | None:
    return None if v == "" else v


def _numeric_ok(v: str | None) -> bool:
    return v is not None and bool(_NUMERIC.match(v.translate(_NOISE)))


def _date_ok(v: str | None) -> bool:
    """True iff one of the generated date spellings parses to a real day."""
    if v is None:
        return False
    s = v.strip(" ")
    for i, p in enumerate(_DATE_PATTERNS):
        m = p.match(s)
        if m:
            a, b, _ = m.groups()
            month, day = (int(b), int(m.groups()[2])) if i == 0 else (int(a), int(b))
            return 1 <= month <= 12 and 1 <= day <= 28
    return False


def _keep_ok(v: str | None) -> bool:
    return v is not None and v.strip(" ") not in _NA_SET


def _dedup_then_filter(rows: list[tuple], max_nulls: int) -> list[tuple]:
    seen, out = set(), []
    for r in rows:
        if r not in seen:
            seen.add(r)
            if sum(v is None for v in r) <= max_nulls:
                out.append(r)
    return out


def _mostly_null_cap(n_cols: int) -> int:
    """Largest null count with nulls / n_cols < 0.5."""
    return (n_cols - 1) // 2


def _gated_ok(rows: list[tuple], j: int) -> list[bool]:
    """Post-transform non-null flag of column ``j`` for a 'candidate'
    column: numeric branch iff >90 % of rows parse, else keep branch."""
    numeric = sum(_numeric_ok(r[j]) for r in rows) > 0.9 * len(rows)
    return [(_numeric_ok(r[j]) if numeric else _keep_ok(r[j])) for r in rows]


def expected_amazon(raw: list[list[str]]) -> dict[str, int]:
    keep = [AMAZON_COLS.index(c) for c in AMAZON_KEEP]
    rows = []
    for r in raw:
        vals = []
        for j in keep:
            v = _cell(r[j])
            if v is not None and AMAZON_COLS[j] in AMAZON_LOWER:
                v = v.strip(" ").lower()
            vals.append(v)
        rows.append(tuple(vals))
    rows = _dedup_then_filter(rows, _mostly_null_cap(len(keep)))
    ok = [True] * len(rows)
    for c in AMAZON_CRITICAL:
        j = AMAZON_KEEP.index(c)
        if c == "Date":
            col_ok = [_date_ok(r[j]) for r in rows]
        elif c in ("Qty", "Amount"):
            col_ok = _gated_ok(rows, j)
        else:
            col_ok = [_keep_ok(r[j]) for r in rows]
        ok = [a and b for a, b in zip(ok, col_ok)]
    oid = AMAZON_KEEP.index("Order ID")
    per_id: dict[str, int] = {}
    for r, good in zip(rows, ok):
        if good:
            k = r[oid].strip(" ")
            per_id[k] = per_id.get(k, 0) + 1
    return {
        "amazon_sale": sum(1 for n in per_id.values() if n == 1),
        "amazon_sale_version": sum(n for n in per_id.values() if n > 1),
    }


def expected_sale(raw: list[list[str]]) -> dict[str, int]:
    rows = [tuple(_cell(v) for v in r[1:]) for r in raw]
    return {"sale_report": len(_dedup_then_filter(rows, _mostly_null_cap(len(SALE_COLS) - 1)))}


def expected_international(raw: list[list[str]]) -> dict[str, int]:
    rows = [tuple(_cell(v) for v in r) for r in raw]
    return {"international_sale": len(_dedup_then_filter(rows, _mostly_null_cap(len(INTL_COLS)))) - any(
        r[1:] == tuple(INTL_PART2_HEADER) for r in rows
    )}
