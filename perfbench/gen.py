"""Seeded input generator for the benchmark.

Everything the program reads during a run is made here from ``--seed``
with numpy and pyarrow; no program code is called, so a change to the
engine cannot change its own inputs. Two kinds of input:

- ``analytic_tables``: the ``lineitem`` and ``embeddings`` tables the
  ``query_mix`` queries read, at the row counts of the sf0.1 fixture.
- ``upsert_drops``: drop directories of order CSV files as real drops
  arrive: string-typed numerics, case and whitespace noise in names and
  emails, re-sent keys with new amounts, exact duplicate rows and corrupt
  lines. Returned with the exact order-id set a correct pipeline stores
  and the values it must read back for every key. Used by
  ``stream_upsert``; ``make_orders`` and ``write_order_csvs`` also make
  the drop of the degenerate-drop probe.
"""

from __future__ import annotations

import csv
import os
import string
from dataclasses import dataclass, field, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_COLUMNS = (
    "order_id",
    "customer_name",
    "customer_email",
    "product",
    "quantity",
    "price",
    "discount",
    "total_amount",
    "order_date",
)

FIRST_NAMES = ("john", "mary", "li", "ana", "omar", "eva", "raj", "kim", "paul", "sara")
LAST_NAMES = ("smith", "garcia", "chen", "muller", "khan", "rossi", "sato", "novak")
PRODUCTS = (
    "iPhone 15",
    "MacBook Pro",
    "AirPods Pro",
    "iPad Air",
    "Apple Watch",
    "Galaxy S24",
    "Pixel 8",
    "Kindle Paperwhite",
    "Nintendo Switch",
    "Dell XPS 13",
)
LETTERS = np.array(list(string.ascii_uppercase))
ID_SPACE = 26**3 * 10**4


def order_id(n: int) -> str:
    """Integer -> ``^[A-Z]{3}-\\d{4}$`` key."""
    letters, digits = divmod(int(n), 10**4)
    a, rest = divmod(letters, 26 * 26)
    b, c = divmod(rest, 26)
    return f"{LETTERS[a]}{LETTERS[b]}{LETTERS[c]}-{digits:04d}"


def distinct_order_ids(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct keys, none with the offline API's ``API-`` prefix."""
    api = (ord("A") - 65) * 676 + (ord("P") - 65) * 26 + (ord("I") - 65)
    out: list[str] = []
    seen: set[int] = set()
    while len(out) < n:
        for k in rng.integers(0, ID_SPACE, size=2 * (n - len(out))):
            k = int(k)
            if k in seen or k // 10**4 == api:
                continue
            seen.add(k)
            out.append(order_id(k))
            if len(out) == n:
                break
    return out


# ------------------------------------------------------------------ orders
@dataclass
class Order:
    order_id: str
    customer_name: str
    customer_email: str
    product: str
    quantity: int
    price_cents: int
    discount_cents: int
    order_date: str

    @property
    def total_cents(self) -> int:
        return self.quantity * self.price_cents - self.discount_cents

    @property
    def stored(self) -> tuple[int, int, int, str]:
        return (self.quantity, self.price_cents, self.total_cents, self.order_date)

    def csv_row(self, rng: np.random.Generator) -> list[str]:
        """The row as a drop carries it: every field a string, names and
        emails with case and whitespace noise the cleaning stage removes."""
        name = self.customer_name
        email = self.customer_email
        pick = int(rng.integers(0, 4))
        if pick == 1:
            name, email = name.upper(), email.upper()
        elif pick == 2:
            name, email = f"  {name.lower()} ", f" {email} "
        elif pick == 3:
            name = name.lower()
        return [
            self.order_id,
            name,
            email,
            self.product,
            str(self.quantity),
            f"{self.price_cents / 100:.2f}",
            f"{self.discount_cents / 100:.2f}",
            f"{self.total_cents / 100:.2f}",
            self.order_date,
        ]


def make_orders(rng: np.random.Generator, ids: list[str]) -> list[Order]:
    n = len(ids)
    first = rng.integers(0, len(FIRST_NAMES), n)
    last = rng.integers(0, len(LAST_NAMES), n)
    cust = rng.integers(0, 500, n)
    product = rng.integers(0, len(PRODUCTS), n)
    qty = rng.integers(1, 6, n)
    price = rng.integers(500, 150_000, n)
    disc = rng.integers(0, 500, n)
    days = rng.integers(0, 730, n)
    base = np.datetime64("2023-01-01")
    return [
        Order(
            order_id=ids[i],
            customer_name=f"{FIRST_NAMES[first[i]].title()} {LAST_NAMES[last[i]].title()}",
            customer_email=f"{FIRST_NAMES[first[i]]}.{LAST_NAMES[last[i]]}{cust[i]}@example.com",
            product=PRODUCTS[product[i]],
            quantity=int(qty[i]),
            price_cents=int(price[i]),
            discount_cents=int(disc[i]),
            order_date=str(base + np.timedelta64(int(days[i]), "D")),
        )
        for i in range(n)
    ]


def write_order_csvs(
    rng: np.random.Generator,
    directory: str,
    rows: list[list[str]],
    n_files: int,
    corrupt: list[str] = (),
    prefix: str = "orders",
) -> int:
    """Spread ``rows`` over ``n_files`` CSV files with a header each and
    the ``corrupt`` raw lines scattered among them; returns bytes written."""
    os.makedirs(directory, exist_ok=True)
    chunks = np.array_split(np.arange(len(rows)), n_files)
    bad_at = rng.integers(0, n_files, len(corrupt))
    total = 0
    for f, idx in enumerate(chunks):
        path = os.path.join(directory, f"{prefix}_{f:04d}.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(ORDER_COLUMNS)
            for i in idx:
                w.writerow(rows[i])
            for j in np.flatnonzero(bad_at == f):
                fh.write(corrupt[j] + "\n")
        total += os.path.getsize(path)
    return total


@dataclass
class Drop:
    """A generated drop and what a correct pipeline stores from it."""

    input_bytes: int
    input_rows: int  # data lines in the files, corrupt ones included
    accepted_rows: int  # lines a correct pipeline accepts
    expected: dict[str, tuple[int, int, int, str]] = field(default_factory=dict)


def upsert_drops(
    seed: int,
    seed_dir: str,
    drop_dir: str,
    n_seed: int = 2000,
    n_drop: int = 3000,
    n_files: int = 100,
    update_share: float = 0.3,
    dup_share: float = 0.02,
    corrupt_lines: int = 20,
) -> tuple[Drop, Drop]:
    """The pre-seed drop (earlier orders, one file per 100 rows) and the
    streamed drop: ``n_drop`` rows in ``n_files`` small files, of which
    ``update_share`` re-send stored keys with new quantity, price and
    discount, ``dup_share`` repeat a row of the drop verbatim, and
    ``corrupt_lines`` are lines with too many fields.

    ``expected`` maps every order id that must be stored after both
    drops to its latest (quantity, price_cents, total_cents, order_date)."""
    rng = np.random.default_rng(seed)
    n_update = int(n_drop * update_share)
    n_new = n_drop - n_update
    ids = distinct_order_ids(rng, n_seed + n_new + corrupt_lines)
    seeded = make_orders(rng, ids[:n_seed])
    fresh = make_orders(rng, ids[n_seed : n_seed + n_new])

    seed_rows = [o.csv_row(rng) for o in seeded]
    first = Drop(
        input_bytes=write_order_csvs(
            rng, seed_dir, seed_rows, max(1, n_seed // 100), prefix="seed"
        ),
        input_rows=n_seed,
        accepted_rows=n_seed,
        expected={o.order_id: o.stored for o in seeded},
    )

    # Updates keep key, customer, product and order date (the warehouse's
    # month partition is immutable per key) and change the amounts.
    picks = rng.choice(n_seed, size=n_update, replace=False)
    updates = []
    for i in picks:
        old = seeded[int(i)]
        updates.append(
            replace(
                old,
                quantity=old.quantity % 5 + 1,
                price_cents=old.price_cents + int(rng.integers(1, 5000)),
                discount_cents=int(rng.integers(0, 500)),
            )
        )
    streamed = fresh + updates
    rows = [o.csv_row(rng) for o in streamed]
    n_dup = int(len(rows) * dup_share)
    rows += [rows[int(i)] for i in rng.choice(len(rows), size=n_dup, replace=False)]
    order = rng.permutation(len(rows))
    rows = [rows[int(i)] for i in order]
    # Too many fields: the reader flags the line as corrupt and the
    # pipeline must not store it, although its key and amounts are valid.
    corrupt = [
        f"{k},Bad Row,bad@example.com,iPad Air,1,10.00,0.00,10.00,2023-06-01,EXTRA"
        for k in ids[n_seed + n_new :]
    ]
    expected = dict(first.expected)
    expected.update({o.order_id: o.stored for o in streamed})
    second = Drop(
        input_bytes=write_order_csvs(rng, drop_dir, rows, n_files, corrupt),
        input_rows=len(rows) + len(corrupt),
        accepted_rows=len(rows),
        expected=expected,
    )
    return first, second


# --------------------------------------------------------- analytic tables
# Row counts of the sf0.1 fixture that ``bench.py`` reads: TPC-H lineitem
# at 6,000,000 rows per unit of scale factor, and its 2,000 embeddings.
ANALYTIC_ROWS = {"lineitem": 600_000, "embeddings": 2_000}


def analytic_tables(seed: int, out_dir: str, rows: dict[str, int] = ANALYTIC_ROWS) -> dict[str, int]:
    """Write the two tables ``query_mix`` reads as
    ``<out_dir>/<name>.parquet``, in the fixture's column names, types
    and value grids; returns row counts.

    - ``lineitem``: the columns ``q01_pricing_summary`` reads. Money on a
      2dp grid, discount and tax on a 0.01 grid, midnight ship dates of
      which about 3.6% fall after the query's cut-off.
    - ``embeddings``: 64-d unit vectors around ten label centres, the
      shape ``ml_knn_loo_accuracy`` and ``sim_rq_distortion`` read."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    m = rows["lineitem"]
    qty = rng.integers(1, 51, m).astype(float)
    retail_cents = rng.integers(90_000, 200_000, m)
    ship = np.datetime64("1992-01-02", "us") + rng.integers(0, 2526, m).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_quantity": qty,
            "l_extendedprice": qty.astype(np.int64) * retail_cents / 100.0,
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    n = rows["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, 64))
    vec = centers[labels] + 1.5 * rng.normal(size=(n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    tables = {"lineitem": lineitem, "embeddings": embeddings}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
