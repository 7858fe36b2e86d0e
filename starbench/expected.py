"""The expected star, computed in plain Python from the generated rows.

It shares no code with the pipeline: each field is cleansed the way
the reference consumer does it (``int(float(x))``, ``float(x)``,
strip, ``M/d/yyyy``), then each table keeps the last-arriving row per
natural key (the reference's ``ON CONFLICT DO UPDATE``). Messages are
given in arrival order, so the last write wins by position.

``compare`` checks the published star against it key by key and
returns the number of messages whose effect is wrong or missing.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import ROUND_HALF_UP, Decimal


def _int(s: str | None) -> int | None:
    if s is None:
        return None
    try:
        f = float(s)
    except ValueError:
        return None
    return int(f) if math.isfinite(f) else None


def _dec(s: str | None, places: str) -> Decimal | None:
    if s is None:
        return None
    try:
        f = float(s)
    except ValueError:
        return None
    return Decimal(repr(f)).quantize(Decimal(places), rounding=ROUND_HALF_UP)


def _text(s: str | None) -> str | None:
    if s is None:
        return None
    t = s.strip(" ")
    return t or None


def _name(first: str | None, last: str | None) -> str | None:
    return _text(" ".join(p for p in (first, last) if p is not None))


def _date(s: str | None) -> date | None:
    if s is None:
        return None
    try:
        return datetime.strptime(s, "%m/%d/%Y").date()
    except ValueError:
        return None


# table -> (natural key, attribute names) as published by the pipeline
TABLES: dict[str, tuple[str, tuple[str, ...]]] = {
    "dim_customer": ("source_customer_id", ("customer_name", "country", "age", "email")),
    "dim_seller": ("source_seller_id", ("seller_name", "country", "email")),
    "dim_product": ("source_product_id",
                    ("product_name", "category", "price", "rating", "reviews")),
    "dim_store": ("store_name", ("city", "country", "email")),
    "dim_supplier": ("supplier_name", ("country", "email")),
    "dim_date": ("sale_date", ("year", "month", "day")),
    "fact_sales": ("source_sale_id",
                   ("sale_quantity", "sale_total_price", "source_customer_id",
                    "source_seller_id", "source_product_id", "store_name",
                    "supplier_name", "sale_date")),
}


def cleanse(row: dict[str, str]) -> dict[str, tuple]:
    """One raw row (None or missing = NULL cell) -> table -> (key, attrs)."""
    g = row.get
    d = _date(g("sale_date"))
    return {
        "dim_customer": (_int(g("sale_customer_id")),
                         (_name(g("customer_first_name"), g("customer_last_name")),
                          _text(g("customer_country")), _int(g("customer_age")),
                          _text(g("customer_email")))),
        "dim_seller": (_int(g("sale_seller_id")),
                       (_name(g("seller_first_name"), g("seller_last_name")),
                        _text(g("seller_country")), _text(g("seller_email")))),
        "dim_product": (_int(g("sale_product_id")),
                        (_text(g("product_name")), _text(g("product_category")),
                         _dec(g("product_price"), "0.01"), _dec(g("product_rating"), "0.1"),
                         _int(g("product_reviews")))),
        "dim_store": (_text(g("store_name")),
                      (_text(g("store_city")), _text(g("store_country")),
                       _text(g("store_email")))),
        "dim_supplier": (_text(g("supplier_name")),
                         (_text(g("supplier_country")), _text(g("supplier_email")))),
        "dim_date": (d, (d.year, d.month, d.day) if d else (None, None, None)),
        "fact_sales": (_int(g("id")),
                       (_int(g("sale_quantity")) or 0,
                        _dec(g("sale_total_price"), "0.01") or Decimal("0.00"),
                        _int(g("sale_customer_id")), _int(g("sale_seller_id")),
                        _int(g("sale_product_id")), _text(g("store_name")),
                        _text(g("supplier_name")), d)),
    }


class ExpectedStar:
    """Last-write-wins star over messages fed in arrival order.

    ``rows[t][key] = attrs`` and ``winner[t][key]`` = the index of the
    message that set it.
    """

    def __init__(self) -> None:
        self.rows: dict[str, dict] = {t: {} for t in TABLES}
        self.winner: dict[str, dict] = {t: {} for t in TABLES}
        self.messages = 0

    def add(self, row: dict[str, str]) -> None:
        idx = self.messages
        self.messages += 1
        empty_as_null = {k: (v if v != "" else None) for k, v in row.items()}
        for t, (key, attrs) in cleanse(empty_as_null).items():
            if key is not None:  # null natural key: dim skipped
                self.rows[t][key] = attrs
                self.winner[t][key] = idx

    def counts(self) -> dict[str, int]:
        return {t: len(r) for t, r in self.rows.items()}

    def fact_sums(self) -> tuple[int, Decimal]:
        facts = self.rows["fact_sales"].values()
        return sum(f[0] for f in facts), sum((f[1] for f in facts), Decimal("0.00"))


def star_of(rows) -> ExpectedStar:
    """ExpectedStar of an iterable of rows in arrival order."""
    exp = ExpectedStar()
    for r in rows:
        exp.add(r)
    return exp


def compare(exp: ExpectedStar, observed: dict[str, dict]) -> int:
    """Messages whose effect is wrong or missing, plus rows that should
    not exist. ``observed[t][key] = attrs`` in TABLES order."""
    bad_msgs: set[int] = set()
    extra = 0
    for t, want in exp.rows.items():
        got = observed.get(t, {})
        for key, attrs in want.items():
            if got.get(key) != attrs:
                bad_msgs.add(exp.winner[t][key])
        extra += sum(1 for key in got if key not in want)
    return len(bad_msgs) + extra
