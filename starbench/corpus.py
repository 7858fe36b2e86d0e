"""Seeded input generator for the star-pipeline benchmark.

Everything the pipeline reads is made here from a seed, with the
quirks of the paper's sales corpus (FIXTURES.md §1):

* ``write_csv_corpus`` — the producer's input: UTF-8 BOM, quoted
  multiline ``product_description`` in ~68% of rows, ids restarting at
  1 in every file, 383 stores and suppliers, ``M/d/yyyy`` dates over
  364 days of 2021, sparse postal/state columns, spaces in filenames.
* ``write_jsonl`` — messages as ``produce_jsonl`` writes them: one
  JSON object per line, empty fields omitted, ``arrival_seq`` in the
  payload.
* ``OpenLoopLander`` — lands JSONL files on a fixed schedule from one
  thread, never waiting for the consumer.

Every file lands atomically: it is written under a dot-prefixed name
(which Spark's file listing skips) and then renamed.
"""

from __future__ import annotations

import csv
import io
import json
import os
import random
import threading
import time
from datetime import date, timedelta

# The reference CSV header (FIXTURES.md §1), in file order.
FIELDS = [
    "id",
    "customer_first_name", "customer_last_name", "customer_age",
    "customer_email", "customer_country", "customer_postal_code",
    "customer_pet_type", "customer_pet_name", "customer_pet_breed",
    "seller_first_name", "seller_last_name", "seller_email",
    "seller_country", "seller_postal_code",
    "product_name", "product_category", "product_price",
    "product_quantity", "sale_date", "sale_customer_id",
    "sale_seller_id", "sale_product_id", "sale_quantity",
    "sale_total_price", "store_name", "store_location", "store_city",
    "store_state", "store_country", "store_phone", "store_email",
    "pet_category", "product_weight", "product_color", "product_size",
    "product_brand", "product_material", "product_description",
    "product_rating", "product_reviews", "product_release_date",
    "product_expiry_date", "supplier_name", "supplier_contact",
    "supplier_email", "supplier_phone", "supplier_address",
    "supplier_city", "supplier_country",
]

# arrival_seq = file_rank * SEQ_STRIDE + row_in_file (1-based), the
# packing read_sales_csv uses.
SEQ_STRIDE = 1 << 32

N_STORES = 383
N_SUPPLIERS = 383
N_DATES = 364

_FIRST = ["Ada", "Bo", "Cleo", "Dov", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun",
          "Kai", "Lea", "Mo", "Nia", "Oto", "Pia", "Quin", "Rui", "Sol", "Tea"]
_LAST = ["Abbot", "Baker", "Chu", "Diaz", "Eze", "Fox", "Gray", "Hill", "Ito",
         "Jain", "Kerr", "Lund", "Moss", "Nash", "Orr", "Page", "Rowe", "Shaw"]
_COUNTRIES = ["Russia", "China", "Indonesia", "Brazil", "Portugal", "France",
              "Sweden", "Canada", "Peru", "Japan", "Poland", "Greece"]
_CITIES = ["Lima", "Oslo", "Kyiv", "Porto", "Lyon", "Osaka", "Perm", "Gdansk"]
_PETS = ["cat", "dog", "bird", "fish", "hamster"]
_BREEDS = ["Siamese", "Beagle", "Parrot", "Guppy", "Syrian", "Persian"]
_CATEGORIES = ["Food", "Toy", "Cage", "Leash", "Bed"]
_COLORS = ["Red", "Teal", "Khaki", "Mauv", "Puce", "Indigo"]
_SIZES = ["Small", "Medium", "Large"]
_MATERIALS = ["Steel", "Cotton", "Plastic", "Wood", "Rubber"]
_WORDS = ["sturdy", "soft", "bright", "quiet", "washable", "compact", "light",
          "durable", "cozy", "classic", "premium", "eco"]

_DAY0 = date(2021, 1, 1)


def reference_file_names(n_files: int) -> list[str]:
    """``MOCK_DATA (1).csv`` … ``MOCK_DATA (n-1).csv``, ``MOCK_DATA.csv``
    — the reference's names, spaces included. In sorted (producer send)
    order the unnumbered file comes last."""
    return sorted(
        ["MOCK_DATA.csv"] + [f"MOCK_DATA ({k}).csv" for k in range(1, n_files)]
    )


def _mdy(d: date) -> str:
    return f"{d.month}/{d.day}/{d.year}"


def _cents(c: int) -> str:
    return f"{c // 100}.{c % 100:02d}"


def _pad(rng: random.Random, s: str) -> str:
    """Surrounding spaces on ~5% of values: cleanse trims them."""
    return f"  {s} " if rng.random() < 0.05 else s


def _description(rng: random.Random) -> str:
    words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(4, 10)))
    if rng.random() < 0.68:
        # multiline, sometimes with an embedded quote (RFC-4180 doubled)
        tail = 'a "must have", really' if rng.random() < 0.2 else "ships fast"
        return f"{words.capitalize()}.\n{tail}\n{rng.choice(_WORDS)}"
    return words.capitalize()


def make_row(rng: random.Random, sale_id: int, n_entities: int,
             entity_id: int | None = None) -> dict[str, str]:
    """One sales record, all strings; '' stands for an empty CSV cell.

    ``entity_id`` fixes the customer/seller/product ids (unique keys);
    otherwise they are drawn from 1..n_entities (overlapping keys).
    """
    def eid() -> int:
        return entity_id if entity_id is not None else rng.randint(1, n_entities)

    cf, cl = rng.choice(_FIRST), rng.choice(_LAST)
    sf, sl = rng.choice(_FIRST), rng.choice(_LAST)
    store = rng.randrange(N_STORES)
    supplier = rng.randrange(N_SUPPLIERS)
    sale_day = _DAY0 + timedelta(days=rng.randrange(N_DATES))
    release = _DAY0 + timedelta(days=rng.randrange(N_DATES))
    return {
        "id": str(sale_id),
        "customer_first_name": cf,
        "customer_last_name": cl,
        "customer_age": str(rng.randint(18, 80)),
        "customer_email": f"{cf}.{cl}{rng.randint(1, 999)}@example.com".lower(),
        "customer_country": _pad(rng, rng.choice(_COUNTRIES)),
        "customer_postal_code": "" if rng.random() < 0.52 else f"{rng.randint(10000, 99999)}",
        "customer_pet_type": rng.choice(_PETS),
        "customer_pet_name": rng.choice(_FIRST),
        "customer_pet_breed": rng.choice(_BREEDS),
        "seller_first_name": sf,
        "seller_last_name": sl,
        "seller_email": f"{sf}{sl}{rng.randint(1, 999)}@example.org".lower(),
        "seller_country": rng.choice(_COUNTRIES),
        "seller_postal_code": "" if rng.random() < 0.53 else f"{rng.randint(10000, 99999)}",
        "product_name": f"{rng.choice(_COLORS)} {rng.choice(_CATEGORIES)}",
        "product_category": rng.choice(_CATEGORIES),
        "product_price": _cents(rng.randint(100, 50000)),
        "product_quantity": str(rng.randint(1, 500)),
        "sale_date": _mdy(sale_day),
        "sale_customer_id": str(eid()),
        "sale_seller_id": str(eid()),
        "sale_product_id": str(eid()),
        "sale_quantity": str(rng.randint(1, 10)),
        "sale_total_price": _cents(rng.randint(100, 500000)),
        "store_name": _pad(rng, f"Store {store:03d}"),
        "store_location": f"{rng.randint(1, 999)} Main St",
        "store_city": rng.choice(_CITIES),
        "store_state": "" if rng.random() < 0.84 else "CA",
        "store_country": rng.choice(_COUNTRIES),
        "store_phone": f"555-{rng.randint(1000, 9999)}",
        "store_email": f"store{store}@{rng.choice(_WORDS)}.com",
        "pet_category": rng.choice(_PETS),
        "product_weight": f"{rng.randint(1, 500) / 10}",
        "product_color": rng.choice(_COLORS),
        "product_size": rng.choice(_SIZES),
        "product_brand": rng.choice(_LAST),
        "product_material": rng.choice(_MATERIALS),
        "product_description": _description(rng),
        "product_rating": f"{rng.randint(10, 50) / 10:.1f}",
        "product_reviews": str(rng.randint(0, 1000)),
        "product_release_date": _mdy(release),
        "product_expiry_date": _mdy(release + timedelta(days=365)),
        "supplier_name": f"Supplier {supplier:03d}",
        "supplier_contact": f"{rng.choice(_FIRST)} {rng.choice(_LAST)}",
        "supplier_email": f"sup{supplier}@{rng.choice(_WORDS)}.net",
        "supplier_phone": f"555-{rng.randint(1000, 9999)}",
        "supplier_address": f"{rng.randint(1, 999)} Dock Rd",
        "supplier_city": rng.choice(_CITIES),
        "supplier_country": _pad(rng, rng.choice(_COUNTRIES)),
    }


def _land(path: str, data: bytes) -> None:
    """Write to a dot-prefixed temp name in the same dir, then rename."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def csv_bytes(rows: list[dict[str, str]]) -> bytes:
    buf = io.StringIO(newline="")
    w = csv.DictWriter(buf, fieldnames=FIELDS, lineterminator="\n")
    w.writeheader()
    w.writerows(rows)
    return buf.getvalue().encode("utf-8-sig")


def write_csv_corpus(out_dir: str, seed: int, n_files: int = 10,
                     rows_per_file: int = 1000, n_entities: int = 1000
                     ) -> list[list[dict[str, str]]]:
    """The reference-shaped CSV corpus; returns the rows per file in
    producer send (sorted filename) order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    files = []
    for name in reference_file_names(n_files):
        rows = [make_row(rng, i, n_entities) for i in range(1, rows_per_file + 1)]
        _land(os.path.join(out_dir, name), csv_bytes(rows))
        files.append(rows)
    return files


def message(row: dict[str, str], arrival_seq: int) -> str:
    """One JSON message as produce_jsonl emits it: empty cells are
    NULL after the CSV read and ``to_json`` drops NULL fields."""
    obj = {k: v for k, v in row.items() if v != ""}
    obj["arrival_seq"] = arrival_seq
    return json.dumps(obj, ensure_ascii=False, separators=(",", ":"))


def jsonl_bytes(rows: list[dict[str, str]], file_rank: int,
                malformed_at: frozenset[int] = frozenset()) -> bytes:
    """JSONL for one landing file. Line indexes in ``malformed_at``
    are cut short, so they fail to parse (the dead-letter path)."""
    lines = []
    for i, row in enumerate(rows):
        m = message(row, file_rank * SEQ_STRIDE + i + 1)
        lines.append(m[: len(m) // 2] if i in malformed_at else m)
    return ("\n".join(lines) + "\n").encode("utf-8")


def write_jsonl(out_dir: str, name: str, rows: list[dict[str, str]],
                file_rank: int, malformed_at: frozenset[int] = frozenset()) -> None:
    os.makedirs(out_dir, exist_ok=True)
    _land(os.path.join(out_dir, name), jsonl_bytes(rows, file_rank, malformed_at))


def unique_key_files(seed: int, n_files: int, rows_per_file: int
                     ) -> list[list[dict[str, str]]]:
    """Rows whose sale and customer/seller/product ids are unique across
    all files: every file adds new keys, so state grows each trigger."""
    rng = random.Random(seed)
    out = []
    for f in range(n_files):
        base = f * rows_per_file
        out.append([make_row(rng, base + i, 0, entity_id=base + i)
                    for i in range(1, rows_per_file + 1)])
    return out


class OpenLoopLander:
    """Lands ``n_files`` JSONL files of ``rows_per_file`` messages at a
    fixed ``files_per_s`` from one background thread.

    File k is due at ``t0 + k / files_per_s``. The schedule never waits
    for the consumer; ``late_s`` records how far behind its own
    schedule the generator landed each file. The rows and the
    malformed line positions are fixed up front from the seed, so the
    expected star does not depend on timing.
    """

    def __init__(self, out_dir: str, seed: int, n_files: int, rows_per_file: int,
                 files_per_s: float, malformed_ratio: float):
        self.out_dir = out_dir
        self.files_per_s = files_per_s
        self.files = unique_key_files(seed, n_files, rows_per_file)
        rng = random.Random(seed ^ 0x5EED)
        self.malformed = [frozenset(i for i in range(rows_per_file)
                                    if rng.random() < malformed_ratio)
                          for _ in range(n_files)]
        self.due: list[float] = []
        self.landed: list[float] = []
        self.late_s: list[float] = []
        self.write_s: list[float] = []
        # held while a file lands and its time is recorded, so a reader
        # sees the landed list and the directory in agreement
        self.lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self._error: BaseException | None = None
        os.makedirs(out_dir, exist_ok=True)

    @property
    def n_malformed(self) -> int:
        return sum(len(m) for m in self.malformed)

    def name(self, k: int) -> str:
        return f"part-{k:06d}.jsonl"

    def start(self) -> None:
        t0 = time.time()
        self.due = [t0 + k / self.files_per_s for k in range(len(self.files))]
        # encode up front so landing a file is one write + rename
        self._payloads = [jsonl_bytes(rows, k, self.malformed[k])
                          for k, rows in enumerate(self.files)]
        self._thread = threading.Thread(target=self._run, name="open-loop-lander")
        self._thread.start()

    def _run(self) -> None:
        try:
            for k, due in enumerate(self.due):
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                with self.lock:
                    t0 = time.time()
                    _land(os.path.join(self.out_dir, self.name(k)), self._payloads[k])
                    now = time.time()
                    self.landed.append(now)
                self.write_s.append(now - t0)
                self.late_s.append(max(0.0, t0 - due))
        except BaseException as e:  # surfaced by join()
            self._error = e
            raise

    @property
    def done(self) -> bool:
        return self._thread is not None and not self._thread.is_alive()

    def join(self, timeout: float) -> None:
        assert self._thread is not None
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise TimeoutError("open-loop lander did not finish")
        if self._error is not None:
            raise RuntimeError("open-loop lander failed") from self._error
