"""Seeded inputs for the benchmark, and the model of the product table that
the checks compare against.

Everything the program receives is made here from the workload seed:
product deliveries (JSON arrays of product records), the lookup request
stream (Zipf-skewed code hits, misses, exact and partial name searches,
status calls) and the analytics choices (query order, probe terms and probe
vectors). The model applies the reference semantics to the same records:
an invalid record changes nothing, and the latest delivery wins per code.
"""

from __future__ import annotations

import bisect
import json
import random

ADJECTIVES = (
    "Crunchy", "Golden", "Organic", "Smoked", "Spicy", "Sweet", "Salted",
    "Roasted", "Creamy", "Fresh", "Wild", "Classic", "Dark", "Light",
    "Tangy", "Zesty",
)
NOUNS = (
    "Oat", "Almond", "Cocoa", "Tomato", "Salmon", "Pepper", "Honey",
    "Walnut", "Lemon", "Basil", "Cheddar", "Olive", "Mango", "Garlic",
    "Vanilla", "Rye",
)
VARIANTS = 10  # names are "<adj> <noun> <variant>": 2560 distinct names
EXTRA_KEYS = ("origin", "labels", "packaging", "stores", "allergens", "grade")
#: codes of real products start with 0-8; 9-prefixed codes never exist
MISS_PREFIX = "9"


def product_name(rng: random.Random) -> str:
    return f"{rng.choice(ADJECTIVES)} {rng.choice(NOUNS)} {rng.randrange(VARIANTS)}"


def make_record(rng: random.Random, code: str, rev: int) -> dict:
    """One valid product record. Attribute key sets vary per record and
    include nested objects and lists, as openfoodfacts-style data does."""
    rec = {
        "code": code,
        "product_name": product_name(rng),
        "rev": rev,
        "brands": f"Brand{rng.randrange(400)}",
        "nutriments": {
            "fat_100g": round(rng.uniform(0, 60), 2),
            "salt_100g": round(rng.uniform(0, 5), 3),
            "energy_kcal": rng.randrange(900),
        },
        "categories_tags": [f"en:cat{rng.randrange(90)}" for _ in range(rng.randrange(1, 4))],
    }
    for key in rng.sample(EXTRA_KEYS, rng.randrange(len(EXTRA_KEYS) + 1)):
        rec[key] = rng.choice(
            (f"v{rng.randrange(1000)}", rng.randrange(10_000), [rng.randrange(50)], {"k": key})
        )
    if rng.random() < 0.1:
        rec["_id"] = rng.randrange(1 << 30)  # external id: dropped by ingest
    return rec


def make_invalid(rng: random.Random, code: str) -> dict:
    """A record ingest must reject: no code, a numeric code, or a
    non-string product name."""
    kind = rng.randrange(3)
    if kind == 0:
        return {"product_name": product_name(rng), "brands": "NoCode"}
    if kind == 1:
        return {"code": int(code), "product_name": product_name(rng)}
    return {"code": code, "product_name": rng.randrange(1000)}


class Model:
    """Expected product table: code -> (product_name, file_id, rev)."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.table: dict[str, tuple[str | None, str, int]] = {}
        self._next_code = 0
        self._hot: list[str] = []  # Zipf rank order over codes
        self._cum: list[float] = []
        self.rev = 0
        self.input_bytes = 0
        self.upserts = 0
        self.records = 0
        self.invalid = 0

    def _new_code(self) -> str:
        # a seeded stride keeps codes unordered relative to arrival
        self._next_code += 1
        return f"{(self._next_code * 7_919_357) % 8_000_000_000_000:013d}"

    def delivery(self, n: int, upsert_share: float, invalid_share: float) -> tuple[bytes, dict]:
        """Make one delivery of ``n`` records. Returns its JSON bytes and
        the pending change: apply it with :meth:`commit` once the program
        has assigned the file id."""
        rng = self.rng
        self.rev += 1
        known = list(self.table)
        n_upsert = int(n * upsert_share) if known else 0
        codes = rng.sample(known, min(n_upsert, len(known)))
        codes += [self._new_code() for _ in range(n - len(codes))]
        rng.shuffle(codes)
        records, valid = [], {}
        for code in codes:
            if rng.random() < invalid_share:
                records.append(make_invalid(rng, code))
            else:
                rec = make_record(rng, code, self.rev)
                records.append(rec)
                valid[code] = rec["product_name"]
        payload = json.dumps(records, separators=(",", ":")).encode()
        pending = {
            "valid": valid,
            "total": n,
            "invalid": n - len(valid),
            "upserts": sum(1 for c in valid if c in self.table),
            "rev": self.rev,
            "bytes": len(payload),
        }
        return payload, pending

    def commit(self, pending: dict, file_id: str) -> None:
        for code, name in pending["valid"].items():
            self.table[code] = (name, file_id, pending["rev"])
        self.input_bytes += pending["bytes"]
        self.records += pending["total"]
        self.invalid += pending["invalid"]
        self.upserts += pending["upserts"]
        if not self._hot:
            self._rank(list(self.table))

    def _rank(self, codes: list[str], s: float = 1.1) -> None:
        """Fix the Zipf popularity order once, over the base table."""
        self.rng.shuffle(codes)
        self._hot = codes
        total, self._cum = 0.0, []
        for r in range(1, len(codes) + 1):
            total += 1.0 / r**s
            self._cum.append(total)

    def hot_code(self) -> str:
        x = self.rng.random() * self._cum[-1]
        return self._hot[bisect.bisect_left(self._cum, x)]

    def miss_code(self) -> str:
        return MISS_PREFIX + f"{self.rng.randrange(10**12):012d}"

    def expect_exact(self, name: str) -> set[str]:
        return {c for c, (n, _, _) in self.table.items() if n == name}

    def expect_partial_count(self, term: str, limit: int = 20) -> int:
        t = term.lower()
        return min(limit, sum(1 for n, _, _ in self.table.values() if n and t in n.lower()))

    def lookup_mix(self) -> list[tuple[str, str]]:
        """One batch of lookups, in seeded order, with a fixed composition
        so that every batch costs the same work: seven code hits on
        Zipf-skewed keys, one code miss, one exact-name search, two
        partial-name searches with literal terms (one rare, one common)
        and four status calls (each resolved to a file id by the
        caller)."""
        out = [("code", self.hot_code()) for _ in range(7)]
        out.append(("miss", self.miss_code()))
        out.append(("exact", self.table[self.hot_code()][0]))
        out.append(("partial", self.partial_term(rare=True)))
        out.append(("partial", self.partial_term(rare=False)))
        out += [("status", "")] * 4
        self.rng.shuffle(out)
        return out

    def partial_term(self, rare: bool) -> str:
        """A rare term (a whole lower-cased name: few matches, so the
        result count is checked exactly) or a common one (part of a name
        word: always past the 20-row limit)."""
        if rare:
            return product_name(self.rng).lower()
        return self.rng.choice(NOUNS + ADJECTIVES).lower()[1:]
