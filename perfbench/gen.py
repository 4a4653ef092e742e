"""Seeded, pure-Python input generator with its own oracle.

Emits the reference's three CSV shapes (customer master, product master,
transaction stream) from ``random.Random(seed)``: the same seed gives
byte-identical files and identical expected totals. A stated share of
the transactions takes each path that ``normalize_stream``/``enrich``
handles differently, and product popularity is Zipf-skewed:

    unknown customer   -> J1 inner join drops the row
    unknown product    -> J2 defaults (price 0, so sales_amount 0)
    missing field      -> P3/P4 drop (empty order id/customer/product/qty/date)
    malformed quantity -> P5 falls back to quantity 0
    malformed date     -> P7 falls back to the 1900-01-01 sentinel

From its own rows the generator computes what the sink must hold after
every file is committed: the row count and ``sales_amount`` per year and
in total, as ``Decimal``.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import random
from decimal import ROUND_HALF_UP, Decimal

CUSTOMER_HEADER = (
    "index,Customer_ID,Gender,Age,Occupation,City_Category,"
    "Stay_In_Current_City_Years,Marital_Status"
)
PRODUCT_HEADER = (
    "index,Product_ID,Product_Category,price$,storeID,supplierID,"
    "storeName,supplierName"
)
TX_HEADER = "orderID,Customer_ID,Product_ID,quantity,date"
# The stream schema run_stream reads every file with (all strings: the
# warehouse owns its casts).
TX_DDL = (
    "orderID string, Customer_ID string, Product_ID string, "
    "quantity string, date string"
)

AGE_GROUPS = ("0-17", "18-25", "26-35", "36-45", "46-50", "51-55", "55+")
CATEGORIES = tuple(f"Category {i:02d}" for i in range(20))
SENTINEL_YEAR = 1900
YEARS = (2017, 2018, 2019, 2020)
FIRST_DAY = dt.date(2017, 1, 1)
N_DAYS = (dt.date(2020, 12, 31) - FIRST_DAY).days + 1

# Shares of transactions routed to each special path (the rest are clean).
SHARES = {
    "unknown_customer": 0.03,
    "unknown_product": 0.03,
    "missing_field": 0.02,
    "bad_quantity": 0.02,
    "bad_date": 0.01,
}
ZIPF_S = 1.1


def _date_text(rng: random.Random, d: dt.date) -> str:
    """One of the unambiguous formats ``parse_date_multi`` accepts."""
    k = rng.random()
    if k < 0.7:
        return d.isoformat()
    if k < 0.85:
        return d.strftime("%m/%d/%Y")
    return d.strftime("%Y/%m/%d")


class Dataset:
    """Generated master data plus a transaction stream cut into files.

    ``customers``/``products`` are the master CSV texts; ``tx_files`` is
    a list of CSV texts, one per entry of ``file_rows``, each with a
    header row, in landing order. ``expected`` gives the oracle's totals
    for a range of files.
    """

    def __init__(
        self,
        seed: int,
        file_rows: list[int],
        n_customers: int = 3000,
        n_products: int = 1000,
    ):
        rng = random.Random(seed)
        self.seed = seed
        self.customer_ids = [1_000_001 + i for i in range(n_customers)]
        cust_lines = [CUSTOMER_HEADER]
        for i, cid in enumerate(self.customer_ids):
            cust_lines.append(
                f"{i},{cid},{rng.choice('MF')},{rng.choice(AGE_GROUPS)},"
                f"{rng.randrange(21)},{rng.choice('ABC')},{rng.randrange(5)},"
                f"{rng.randrange(2)}"
            )
        self.customers = "\n".join(cust_lines) + "\n"

        # Store/supplier ids start at 2: id 1 is the default row the
        # dimension ETL injects for unknown products.
        self.prices: dict[str, Decimal] = {}
        prod_lines = [PRODUCT_HEADER]
        for i in range(n_products):
            pid = f"P{i:05d}"
            price = Decimal(rng.randrange(202, 7996)) / 100
            self.prices[pid] = price
            store, supplier = 2 + rng.randrange(8), 2 + rng.randrange(7)
            prod_lines.append(
                f"{i},{pid},{rng.choice(CATEGORIES)},{price},{store},"
                f"{supplier},Store {store},Supplier {supplier}"
            )
        self.products = "\n".join(prod_lines) + "\n"
        pids = list(self.prices)
        cum = list(
            itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(len(pids)))
        )
        rng.shuffle(pids)  # popularity rank is independent of the id

        thresholds = list(itertools.accumulate(SHARES.values()))
        kinds = list(SHARES)
        self.tx_files: list[str] = []
        # Per file: (committed rows, {year: Decimal sum}).
        self._per_file: list[tuple[int, dict[int, Decimal]]] = []
        order_id = 5_000_000
        for rows in file_rows:
            lines = [TX_HEADER]
            n_ok, sums = 0, {}
            for _ in range(rows):
                order_id += 1 + rng.randrange(3)
                r = rng.random()
                kind = next(
                    (kinds[j] for j, t in enumerate(thresholds) if r < t), "clean"
                )
                cid = str(rng.choice(self.customer_ids))
                pid = pids[bisect.bisect(cum, rng.random() * cum[-1])]
                qty = 1 + rng.randrange(10)
                day = FIRST_DAY + dt.timedelta(days=rng.randrange(N_DAYS))
                fields = [str(order_id), cid, pid, str(qty), _date_text(rng, day)]
                price, year = self.prices[pid], day.year
                if kind == "unknown_customer":
                    fields[1] = str(9_000_000 + rng.randrange(10_000))
                elif kind == "unknown_product":
                    fields[2] = f"X{rng.randrange(10_000):05d}"
                    price = Decimal(0)
                elif kind == "missing_field":
                    fields[rng.randrange(5)] = ""
                elif kind == "bad_quantity":
                    fields[3] = rng.choice(("n/a", "x7", "1O"))
                    qty = 0
                elif kind == "bad_date":
                    fields[4] = rng.choice(("2019-13-45", "not a date", "31.12.2018"))
                    year = SENTINEL_YEAR
                if rng.random() < 0.05:  # P1: stray whitespace is trimmed
                    j = rng.randrange(5)
                    if fields[j]:
                        fields[j] = f" {fields[j]} "
                lines.append(",".join(fields))
                if kind in ("unknown_customer", "missing_field"):
                    continue
                amount = (qty * price).quantize(Decimal("0.01"), ROUND_HALF_UP)
                n_ok += 1
                sums[year] = sums.get(year, Decimal(0)) + amount
            self.tx_files.append("\n".join(lines) + "\n")
            self._per_file.append((n_ok, sums))

    def expected(self, start: int = 0, stop: int | None = None) -> dict:
        """Oracle totals once files ``start..stop-1`` (default: all) are
        committed: ``rows``, ``total`` and ``per_year`` (Decimal)."""
        per_year: dict[int, Decimal] = {}
        rows = 0
        for n, sums in self._per_file[start:stop]:
            rows += n
            for y, s in sums.items():
                per_year[y] = per_year.get(y, Decimal(0)) + s
        return {
            "rows": rows,
            "total": sum(per_year.values(), Decimal(0)),
            "per_year": dict(sorted(per_year.items())),
        }

    def rows_in(self, start: int = 0, stop: int | None = None) -> int:
        """Transaction rows (excluding headers) in files ``start..stop-1``."""
        return sum(t.count("\n") - 1 for t in self.tx_files[start:stop])


def check_sink(sales_ids, amounts, expected: dict) -> list[str]:
    """The three sink checks: row count, ``sales_id`` exactly 1..N, and
    the fact total. Returns the failures (empty when all hold)."""
    errors = []
    n = len(sales_ids)
    if n != expected["rows"]:
        errors.append(f"committed rows {n} != expected {expected['rows']}")
    ids = sorted(sales_ids)
    if ids != list(range(1, n + 1)):
        dup = next((a for a, b in zip(ids, ids[1:]) if a == b), None)
        errors.append(
            f"sales_id is not exactly 1..{n} (min {ids[0] if ids else None}, "
            f"max {ids[-1] if ids else None}, first duplicate {dup})"
        )
    total = sum(amounts, Decimal(0))
    if total != expected["total"]:
        errors.append(f"fact sum {total} != expected {expected['total']}")
    return errors
