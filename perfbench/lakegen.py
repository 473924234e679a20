"""Seeded inputs for the ``lake_pipeline`` workload, and their truth.

Everything here is plain Python: the generator never touches Spark, so
its cost is the benchmark's own and is kept out of every timed window.

A :class:`LakeInputs` holds five accounts with skewed following lists
and a name -> gender lookup. ``payloads(k)`` gives the k-th hourly
snapshot of every account: snapshot 0 is the base, and each later one
applies seeded churn (2% of records deleted, 3% added) to the one
before. ``truth(k)`` recomputes, from the reference rules, what the
pipeline must write for snapshot k when the lake already holds k - 1.
"""

from __future__ import annotations

import random
import re
from collections import Counter
from dataclasses import dataclass, field

INGEST_DATE = "20250301"

#: account -> number of records in the base snapshot (about 27.6k total)
ACCOUNT_SIZES = {"acct_a": 20_000, "acct_b": 5_000, "acct_c": 2_000,
                 "acct_d": 500, "acct_e": 100}
LOOKUP_SIZE = 5_000
DELETE_FRAC = 0.02
ADD_FRAC = 0.03
#: share of records whose full_name is null or blank, or whose username
#: has no letters (the gender UDF's fallback paths)
ODD_FRAC = 0.05

GENDERS = ("male", "female", "mostly_male", "mostly_female", "andy", "unknown")
_GENDER_WEIGHTS = (38, 38, 8, 8, 4, 4)
_SYLLABLES = ("ka", "lo", "mi", "ra", "te", "su", "na", "vi", "do", "el",
              "an", "jo", "ri", "sa", "be", "th", "or", "ul", "ce", "zy")


def run_ts(k: int) -> str:
    """HHMM partition value of hourly run ``k`` (k = 0 is the base run)."""
    return f"{k // 60:02d}{k % 60:02d}"


def _word(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(lo, hi)))


@dataclass
class LakeInputs:
    seed: int
    lookup: list[tuple[str, str]]
    _snapshots: list[dict[str, list[dict]]] = field(default_factory=list)
    _rng: random.Random = field(default_factory=random.Random)
    _serial: int = 0
    _first_names: list[str] = field(default_factory=list)

    # -- generation --------------------------------------------------------
    def _person(self) -> dict:
        """One follower record. Usernames are unique across the whole
        run (a serial number), so an account never lists a key twice."""
        rng = self._rng
        self._serial += 1
        known = rng.random() < 0.7
        first = rng.choice(self._first_names) if known else _word(rng, 2, 3)
        last = _word(rng, 2, 4)
        roll = rng.random()
        if roll < ODD_FRAC / 3:
            full_name = None
        elif roll < 2 * ODD_FRAC / 3:
            full_name = rng.choice(["", "   "])
        else:
            full_name = f"{first.title()} {last.title()}"
            if rng.random() < 0.2:
                full_name += f" {_word(rng, 1, 2).title()}"
        if rng.random() < ODD_FRAC / 3:
            username = f"_{self._serial}.{rng.randint(0, 99)}"
        elif rng.random() < 0.25:
            # username that cleans to a first name: the 0.7 / 0.4 path
            username = f"{rng.choice(self._first_names)}{self._serial}"
        else:
            username = f"{first}.{last}_{self._serial}"
        return {"username": username, "full_name": full_name,
                "id": self._serial, "is_private": rng.random() < 0.1}

    def _churn(self, prev: list[dict]) -> list[dict]:
        rng = self._rng
        n_del = round(len(prev) * DELETE_FRAC)
        n_add = round(len(prev) * ADD_FRAC)
        gone = set(rng.sample(range(len(prev)), n_del))
        kept = [r for i, r in enumerate(prev) if i not in gone]
        return kept + [self._person() for _ in range(n_add)]

    def records(self, k: int) -> dict[str, list[dict]]:
        """Snapshot ``k`` of every account as record lists."""
        while len(self._snapshots) <= k:
            if not self._snapshots:
                snap = {a: [self._person() for _ in range(n)]
                        for a, n in ACCOUNT_SIZES.items()}
            else:
                snap = {a: self._churn(recs)
                        for a, recs in self._snapshots[-1].items()}
            self._snapshots.append(snap)
        return self._snapshots[k]

    def payloads(self, k: int) -> dict:
        """Snapshot ``k`` in the API's two payload shapes: even accounts
        as a bare list, odd ones wrapped as ``{"items": [...]}``."""
        out = {}
        for i, (acct, recs) in enumerate(self.records(k).items()):
            out[acct] = list(recs) if i % 2 == 0 else {"items": list(recs)}
        return out

    def n_records(self, k: int) -> int:
        return sum(len(r) for r in self.records(k).values())

    # -- truth -------------------------------------------------------------
    def truth(self, k: int) -> dict:
        """What run ``k`` must write, given the lake holds runs 0..k-1."""
        lookup = {name.lower(): g for name, g in self.lookup}
        cur = self.records(k)
        out = {"counts": {a: len(r) for a, r in cur.items()},
               "genders": dict(Counter(predict_gender(r["full_name"], r["username"], lookup)[0]
                                       for recs in cur.values() for r in recs))}
        if k > 0:
            prev = self.records(k - 1)
            out["changes"] = {a: diff_counts(cur[a], prev[a]) for a in cur}
        return out


def make_inputs(seed: int) -> LakeInputs:
    rng = random.Random(seed)
    names: set[str] = set()
    while len(names) < LOOKUP_SIZE:
        names.add(_word(rng, 2, 3))
    ordered = sorted(names)
    genders = rng.choices(GENDERS, weights=_GENDER_WEIGHTS, k=len(ordered))
    # lookup names as a name list would store them: capitalised
    lookup = [(n.title(), g) for n, g in zip(ordered, genders)]
    inputs = LakeInputs(seed=seed, lookup=lookup, _rng=rng,
                        _first_names=ordered)
    return inputs


# -- reference rules ---------------------------------------------------------
_DEFINITE = {"male": "male", "female": "female"}
_MOSTLY = {"mostly_male": "male", "mostly_female": "female"}


def _candidate(g: str | None, definite: float, mostly: float) -> tuple[str, float]:
    if g in _DEFINITE:
        return _DEFINITE[g], definite
    if g in _MOSTLY:
        return _MOSTLY[g], mostly
    return "unknown", 0.0


def predict_gender(full_name: str | None, username: str | None,
                   lookup: dict[str, str]) -> tuple[str, float]:
    """The reference's best-confidence rule: the first token of the
    space-trimmed full name scores 0.9 / 0.5, the username with its
    non-letters removed scores 0.7 / 0.4, ties go to the full name, and
    no positive score means ('unknown', 0.0)."""
    token = re.split(r"\s+", (full_name or "").strip(" "))[0].lower()
    cleaned = re.sub("[^A-Za-z]", "", username or "").lower()
    fn = _candidate(lookup.get(token), 0.9, 0.5)
    un = _candidate(lookup.get(cleaned), 0.7, 0.4)
    best = fn if fn[1] >= un[1] else un
    return best if best[1] > 0 else ("unknown", best[1])


def _key(r: dict) -> tuple | None:
    """Diff key; a key with a null part never equals anything (SQL)."""
    if r.get("username") is None or r.get("full_name") is None:
        return None
    return (r["username"], r["full_name"])


def diff_counts(cur: list[dict], prev: list[dict]) -> dict[str, int]:
    """Left-anti-join diff counts both ways on (username, full_name)."""
    cur_keys = {_key(r) for r in cur} - {None}
    prev_keys = {_key(r) for r in prev} - {None}
    return {"added": sum(1 for r in cur if _key(r) not in prev_keys),
            "deleted": sum(1 for r in prev if _key(r) not in cur_keys)}
