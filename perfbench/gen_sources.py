"""Seeded look-alikes of the reference warehouse's six source CSVs.

Writes ``source_crm/{cust_info,prd_info,sales_details}.csv`` and
``source_erp/{CUST_AZ12,LOC_A101,PX_CAT_G1V2}.csv`` with the reference's
row counts and the defect classes the silver layer cleans (FIXTURES.md §A):

- duplicate ``cst_id`` rows that differ in ``cst_create_date`` (keep latest)
  and a few rows with a NULL ``cst_id``
- padded names, padded product-line codes (``'M '``) and padded ERP codes
- blank gender / marital-status / product-line values
- SCD2 product versions whose raw ``prd_end_dt`` precedes ``prd_start_dt``
- ``yyyymmdd`` order dates that are ``0`` or garbage
- NULL / wrong / negative ``sls_sales`` and ``sls_price`` values
- ``NAS``-prefixed and ``-``-split ERP customer ids, future birthdates,
  country spelled several ways, product prefixes with no category

The data keeps the properties the DuckDB twins of q68-q88 rely on:
``(cst_id, cst_create_date)`` and ``(prd_key, prd_start_dt)`` are unique,
ERP customer ids are unique after normalisation, and every current product
number is unique, so surrogate keys ride total orders.

:meth:`Sources.write_delta` writes one refresh cycle: ~1% new sales lines
of existing customers in the latest two months. Deltas carry no customer
changes: those rebuild the gold dimensions and reports, which took a refresh
from ~15 s to ~24 s on a 4-core host, more than a run's time budget allows.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import random

CRM = "source_crm"
ERP = "source_erp"

#: data rows per file (header excluded)
ROWS = {
    f"{CRM}/cust_info.csv": 18494,
    f"{CRM}/prd_info.csv": 397,
    f"{CRM}/sales_details.csv": 60398,
    f"{ERP}/CUST_AZ12.csv": 18484,
    f"{ERP}/LOC_A101.csv": 18484,
    f"{ERP}/PX_CAT_G1V2.csv": 37,
}

HEADERS = {
    f"{CRM}/cust_info.csv": "cst_id,cst_key,cst_firstname,cst_lastname,"
    "cst_marital_status,cst_gndr,cst_create_date",
    f"{CRM}/prd_info.csv": "prd_id,prd_key,prd_nm,prd_cost,prd_line,"
    "prd_start_dt,prd_end_dt",
    f"{CRM}/sales_details.csv": "sls_ord_num,sls_prd_key,sls_cust_id,"
    "sls_order_dt,sls_ship_dt,sls_due_dt,sls_sales,sls_quantity,sls_price",
    f"{ERP}/CUST_AZ12.csv": "CID,BDATE,GEN",
    f"{ERP}/LOC_A101.csv": "CID,CNTRY",
    f"{ERP}/PX_CAT_G1V2.csv": "ID,CAT,SUBCAT,MAINTENANCE",
}

# defect counts, sized on the reference profile (SURVEY.md §1.4)
N_NULL_IDS = 4
N_DUP_IDS = 40
N_BLANK_MARITAL = 7
N_BAD_ORDER_DT = 19
N_BAD_SALES = 35
N_BAD_PRICE = 12
N_FUTURE_BDATE = 16
N_PRODUCT_KEYS = 295

#: new sales lines per refresh cycle (~1% of the base)
DELTA_SALES = 600

FIRST_ID = 11000
FIRST_ORDER = 43697
ORDER_START = dt.date(2021, 1, 1)
ORDER_DAYS = 3 * 365
CREATE_START = dt.date(2023, 1, 1)
CREATE_DAYS = 900

FIRST_NAMES = (
    "Jon", "Elizabeth", "Ruben", "Christy", "Elijah", "Marco", "Rob", "Shannon",
    "Jacquelyn", "Curtis", "Lauren", "Ian", "Sydney", "Chloe", "Wyatt", "Shannon",
    "Clarence", "Luke", "Jordan", "Destiny", "Ethan", "Seth", "Russell", "Alejandro",
    "Harold", "Jessie", "Jill", "Jimmy", "Bethany", "Theresa", "Denise", "Jaime",
    "Ebony", "Wendy", "Jennifer", "Chloe", "Diana", "Marc", "Jesse", "Amanda",
)
LAST_NAMES = (
    "Yang", "Huang", "Torres", "Zhu", "Johnson", "Ruiz", "Alvarez", "Mehta",
    "Verhoff", "Carlson", "Suarez", "Lu", "Walker", "Jenkins", "Hill", "Nara",
    "Coleman", "Lal", "Diaz", "Gonzalez", "Shan", "Ramos", "Rivera", "Ward",
    "Hughes", "Powell", "Long", "Butler", "Young", "Baker", "Bryant", "Perry",
    "Kumar", "Lin", "Navarro", "Simmons", "Sanchez", "Garcia", "Wilson", "Moore",
)
COUNTRIES = (
    "Australia", "Canada", "France", "Germany", "DE", "US", "USA",
    "United States", "United Kingdom", "", " Germany", "France ",
)
GENDERS = ("Male", "Female", "M", "F", "", " Male", "Female ")
CATEGORIES = {
    "AC": ("Accessories", ("BC", "BR", "BS", "CL", "FE", "HE", "HP", "LI",
                           "LO", "PA", "PU", "TT", "TU")),
    "BI": ("Bikes", ("MB", "RB", "TB")),
    "CL": ("Clothing", ("BS", "CA", "GL", "JE", "SH", "SJ", "SO", "TI", "VE")),
    "CO": ("Components", ("BB", "BR", "CH", "CS", "DE", "FO", "FR", "HB",
                          "HP", "HS", "PD", "RF")),
}
#: product prefixes with no PX_CAT_G1V2 row (their category reads NULL)
ORPHAN_PREFIXES = ("CO-PE",)
COLORS = ("Black", "Red", "Silver", "Yellow", "Blue", "Multi", "White")


def _ymd(d: dt.date) -> int:
    return d.year * 10000 + d.month * 100 + d.day


def _pad(rng: random.Random, s: str, rate: float) -> str:
    """Leading and/or trailing whitespace on a ``rate`` share of values."""
    r = rng.random()
    if r < rate / 2:
        return " " + s
    if r < rate:
        return s + "  "
    return s


def _csv(rows) -> str:
    return "".join(
        ",".join("" if v is None else str(v) for v in row) + "\n" for row in rows
    )


class Sources:
    """The base data set of one seed, plus the state its deltas build on."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = random.Random(f"perfbench-sources:{seed}")
        self.files: dict[str, list[tuple]] = {}
        self._categories(rng)
        self._products(rng)
        self._customers(rng)
        self._erp(rng)
        self._sales(rng)
        for name, n in ROWS.items():
            if len(self.files[name]) != n:  # generator invariant
                raise RuntimeError(f"{name}: {len(self.files[name])} rows != {n}")

    # -- base tables ---------------------------------------------------
    def _categories(self, rng: random.Random) -> None:
        rows = []
        for code, (cat, subs) in CATEGORIES.items():
            for sub in subs:
                rows.append((f"{code}_{sub}", cat, f"{cat} {sub}",
                             rng.choice(("Yes", "No"))))
        self.cat_ids = [r[0] for r in rows]
        self.files[f"{ERP}/PX_CAT_G1V2.csv"] = rows

    def _products(self, rng: random.Random) -> None:
        n_rows = ROWS[f"{CRM}/prd_info.csv"]
        prefixes = [c.replace("_", "-") for c in self.cat_ids] + list(ORPHAN_PREFIXES)
        codes: set[str] = set()
        while len(codes) < N_PRODUCT_KEYS:
            codes.add(
                "".join(rng.choices("ABCDEFGHIJKLMNOPRSTUVW", k=2)) + "-"
                + "".join(rng.choices("ABCDEFGHJKLMNPRSTUVWXYZ0123456789", k=4))
                + rng.choice(("", "-38", "-42", "-44", "-48", "-52", "-58", "-62"))
            )
        codes_sorted = sorted(codes)
        rng.shuffle(codes_sorted)
        versions = [1] * N_PRODUCT_KEYS
        extra = n_rows - N_PRODUCT_KEYS
        while extra:
            i = rng.randrange(N_PRODUCT_KEYS)
            if versions[i] < 4:
                versions[i] += 1
                extra -= 1
        rows = []
        self.products: list[tuple[str, int]] = []  # (current code, list price)
        prd_id = 210
        for code, nver in zip(codes_sorted, versions):
            key = f"{rng.choice(prefixes)}-{code}"
            name = f"{code.split('-')[0]} {rng.choice(('Frame', 'Wheel', 'Seat', 'Helmet', 'Jersey', 'Fork'))} - {rng.choice(COLORS)}"
            first_year = rng.randint(2015, 2020 - nver + 1)
            line = rng.choice(("M ", "R ", "S ", "T ", "M ", "R ", ""))
            cost = rng.randint(0, 2200)
            for v in range(nver):
                start = dt.date(first_year + v, 7, 1)
                last = v == nver - 1
                if last:
                    # a few current versions carry a stale end date
                    end = start + dt.timedelta(days=30) if rng.random() < 0.03 else None
                elif rng.random() < 0.35:
                    end = start - dt.timedelta(days=rng.randint(1, 300))  # inverted
                else:
                    end = dt.date(first_year + v + 1, 6, 30)
                cost_v = None if rng.random() < 0.01 else cost + 17 * v
                rows.append((prd_id, key, name, cost_v, line, start.isoformat(),
                             end.isoformat() if end else None))
                prd_id += 1
            self.products.append((code, rng.randint(2, 3578)))
        self.files[f"{CRM}/prd_info.csv"] = rows

    def _customers(self, rng: random.Random) -> None:
        n_unique = ROWS[f"{CRM}/cust_info.csv"] - N_NULL_IDS - N_DUP_IDS
        self.customer_ids = list(range(FIRST_ID, FIRST_ID + n_unique))
        blank_marital = set(rng.sample(range(n_unique), N_BLANK_MARITAL))
        rows: list[tuple] = []
        create_dates: dict[int, dt.date] = {}
        for i, cid in enumerate(self.customer_ids):
            created = CREATE_START + dt.timedelta(days=rng.randrange(CREATE_DAYS))
            create_dates[cid] = created
            rows.append(self._customer_row(rng, cid, created, "" if i in blank_marital else None))
        # duplicates: same id and key, another create date (earlier or later)
        for cid in rng.sample(self.customer_ids, N_DUP_IDS):
            delta = rng.choice((-1, 1)) * rng.randint(1, 60)
            created = create_dates[cid] + dt.timedelta(days=delta)
            pos = self.customer_ids.index(cid) + 1 + rng.randint(0, 3)
            rows.insert(pos, self._customer_row(rng, cid, created, None))
        for _ in range(N_NULL_IDS):
            key = f"SF{rng.randint(100, 9999)}"
            rows.insert(rng.randrange(len(rows)), (
                None, key, None, None, None, None,
                (CREATE_START + dt.timedelta(days=rng.randrange(CREATE_DAYS))).isoformat(),
            ))
        self.files[f"{CRM}/cust_info.csv"] = rows

    @staticmethod
    def _customer_row(rng: random.Random, cid: int, created: dt.date,
                      marital: str | None) -> tuple:
        if marital is None:
            marital = rng.choice(("M", "S"))
        return (
            cid,
            f"AW{cid:08d}",
            _pad(rng, rng.choice(FIRST_NAMES), 0.04),
            _pad(rng, rng.choice(LAST_NAMES), 0.04),
            marital,
            "" if rng.random() < 0.25 else rng.choice(("M", "F")),
            created.isoformat(),
        )

    def _erp(self, rng: random.Random) -> None:
        n = ROWS[f"{ERP}/CUST_AZ12.csv"]
        # ERP also knows customers the CRM never saw: ids past the CRM range
        last = self.customer_ids[-1]
        ids = self.customer_ids + list(range(last + 1, last + 1 + n - len(self.customer_ids)))
        future = set(rng.sample(range(n), N_FUTURE_BDATE))
        self.files[f"{ERP}/CUST_AZ12.csv"] = [
            self._erp_customer_row(rng, cid, i in future) for i, cid in enumerate(ids)
        ]
        self.files[f"{ERP}/LOC_A101.csv"] = [self._location_row(rng, cid) for cid in ids]

    @staticmethod
    def _erp_customer_row(rng: random.Random, cid: int, future: bool) -> tuple:
        if future:
            bdate = dt.date(rng.randint(2040, 2099), rng.randint(1, 12), rng.randint(1, 28))
        else:
            bdate = dt.date(1924, 1, 1) + dt.timedelta(days=rng.randrange(28_500))
        prefix = "NAS" if rng.random() < 0.5 else ""
        return (f"{prefix}AW{cid:08d}", bdate.isoformat(), rng.choice(GENDERS))

    @staticmethod
    def _location_row(rng: random.Random, cid: int) -> tuple:
        return (f"AW-{cid:08d}", rng.choice(COUNTRIES))

    def _sales(self, rng: random.Random) -> None:
        n = ROWS[f"{CRM}/sales_details.csv"]
        rows: list[list] = []
        order = FIRST_ORDER
        while len(rows) < n:
            day = ORDER_START + dt.timedelta(days=ORDER_DAYS * len(rows) // n)
            rows.extend(self._order_lines(rng, order, day, rng.choice(self.customer_ids)))
            order += 1
        del rows[n:]
        self.max_order = order
        picks = rng.sample(range(n), N_BAD_ORDER_DT + N_BAD_SALES + N_BAD_PRICE)
        for i in picks[:N_BAD_ORDER_DT]:
            rows[i][3] = rng.choice((0, 0, 0, 5489, 32154, 1500101))
        for i in picks[N_BAD_ORDER_DT:N_BAD_ORDER_DT + N_BAD_SALES]:
            qty, price = rows[i][7], rows[i][8]
            rows[i][6] = rng.choice((None, qty * price + rng.randint(1, 50), -qty * price, 0))
        for i in picks[N_BAD_ORDER_DT + N_BAD_SALES:]:
            rows[i][8] = rng.choice((None, -rows[i][8], 0))
        self.files[f"{CRM}/sales_details.csv"] = [tuple(r) for r in rows]

    def _order_lines(self, rng: random.Random, order: int, day: dt.date,
                     cust: int) -> list[list]:
        lines = []
        for _ in range(rng.choice((1, 1, 2, 2, 3, 4))):
            code, price = rng.choice(self.products)
            qty = 1 if rng.random() < 0.9 else rng.randint(2, 3)
            lines.append([
                f"SO{order}", code, cust, _ymd(day),
                _ymd(day + dt.timedelta(days=7)), _ymd(day + dt.timedelta(days=12)),
                qty * price, qty, price,
            ])
        return lines

    # -- output --------------------------------------------------------
    def write(self, root: str) -> dict[str, int]:
        """Write the six base CSVs under ``root``; returns the manifest
        ``{relative path: data rows}``."""
        return _write_files(root, self.files)

    def delta(self, cycle: int) -> dict[str, list[tuple]]:
        """Rows of refresh cycle ``cycle`` (0-based), keyed by file: new
        sales lines of existing customers, dated in the latest two months,
        under order numbers no earlier cycle used."""
        rng = random.Random(f"perfbench-delta:{self.seed}:{cycle}")
        sales: list[list] = []
        order = self.max_order + cycle * DELTA_SALES
        last_day = ORDER_START + dt.timedelta(days=ORDER_DAYS - 1)
        while len(sales) < DELTA_SALES:
            day = last_day - dt.timedelta(days=rng.randrange(60))
            sales.extend(self._order_lines(rng, order, day, rng.choice(self.customer_ids)))
            order += 1
        del sales[DELTA_SALES:]
        return {f"{CRM}/sales_details.csv": [tuple(r) for r in sales]}

    def write_delta(self, root: str, cycle: int) -> dict[str, int]:
        """Write cycle ``cycle``'s delta CSVs under ``root``; returns its
        manifest."""
        return _write_files(root, self.delta(cycle))

    def write_combined(self, root: str, cycles: int) -> dict[str, int]:
        """Write the base rows followed by the rows of deltas
        ``0..cycles-1``, one file per source: what bronze holds after
        ``cycles`` refreshes."""
        files = {rel: list(rows) for rel, rows in self.files.items()}
        for k in range(cycles):
            for rel, rows in self.delta(k).items():
                files[rel] += rows
        return _write_files(root, files)


def _write_files(root: str, files: dict[str, list[tuple]]) -> dict[str, int]:
    manifest = {}
    for rel, rows in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", newline="") as fh:
            fh.write(HEADERS[rel] + "\n" + _csv(rows))
        manifest[rel] = len(rows)
    return manifest
