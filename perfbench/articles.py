"""Seeded generator of dirty article files, with per-record ground truth.

The file is a pretty-printed JSON array (the reference pipeline's input
shape). Every record is built from CLEAN field values, then dirtied in ways
the cleaning stage must undo (HTML entities, whitespace runs), so the
generator knows each record's cleaned key and intended fate without running
the program. Fates, in funnel order:

- ``incomplete``        title, content or url is null, empty or blank;
- ``duplicate``         a later record repeating an earlier complete
                        record's cleaned (title, url) key;
- ``short_content``     cleaned content shorter than the validation minimum;
- ``invalid_url``       upper-case, missing or non-http scheme;
- ``missing_published`` date absent, blank or unparseable;
- ``valid``             passes every rule and is saved.

A failing record carries exactly one defect, so its ``reason`` is its fate.
The mix is fixed by ``FATE_SHARES``; the same seed gives the same bytes and
the same ground truth.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

N_RECORDS = 40_000

# Share of all records per fate. "duplicate" is the 50 % duplicate-key share;
# the rest are fresh keys.
FATE_SHARES: dict[str, float] = {
    "duplicate": 0.50,
    "valid": 0.32,
    "incomplete": 0.05,
    "short_content": 0.05,
    "invalid_url": 0.04,
    "missing_published": 0.04,
}

WORDS = (
    "market policy energy data river city council school health report "
    "science budget transit housing water climate vote court trade farm "
    "museum league festival study survey launch plan network storm harbor"
).split()
CATEGORIES = ("news", "business", "science", "sports", "culture")
SOURCES = ("Daily Ledger", "Metro Wire", "Coastal Times", "Valley Post")
AUTHORS = ("A. Rivera", "B. Chen", "C. Okafor", "D. Novak", "E. Haddad")
BAD_DATES = ("2025-13-99", "not a date", "", "none", "NULL", "   ", None, "__absent__")


@dataclass
class GroundTruth:
    """What the pipeline must produce for one generated file."""

    n_load: int = 0
    n_complete: int = 0
    n_dedup: int = 0
    n_valid: int = 0
    n_dated: int = 0  # kept records with a parseable date
    failure_counts: dict[str, int] = field(default_factory=dict)
    valid_titles_md5: str = ""
    fates: list[str] = field(default_factory=list)

    def summary(self) -> dict:
        d = {k: v for k, v in self.__dict__.items() if k != "fates"}
        d["failure_counts"] = dict(sorted(self.failure_counts.items()))
        return d


def titles_digest(titles: list[str]) -> str:
    """md5 of the ordered list of titles, one per line."""
    return hashlib.md5("\n".join(titles).encode("utf-8")).hexdigest()


def _sentence(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n_words))


def _dirty(rng: random.Random, clean: str) -> str:
    """Raw form that the cleaner maps back to ``clean``: encode ``&``/``<``
    as entities, widen single spaces into whitespace runs, pad the ends."""
    out = clean.replace("&", "&amp;").replace("<", "&lt;")
    if rng.random() < 0.5:
        out = out.replace(" ", rng.choice(("  ", " \t", " \n ", "&nbsp; ")), 1)
    return rng.choice(("", " ", "\n", "\t ")) + out + rng.choice(("", " ", "  \n"))


def _date_text(rng: random.Random) -> str:
    d = datetime(2024, 1, 1) + timedelta(minutes=rng.randrange(2 * 365 * 24 * 60))
    form = rng.randrange(6)
    if form == 0:
        return d.strftime("%Y-%m-%d")
    if form == 1:
        return d.strftime("%Y-%m-%dT%H:%M:%SZ")
    if form == 2:
        return d.strftime("%Y-%m-%d %H:%M:%S")
    if form == 3:
        return f"{d.strftime('%b')} {d.day}, {d.year}"
    if form == 4:
        return f"{d.strftime('%B')} {d.day}, {d.year}"
    return f"{d.day}/{d.month}/{d.year}"


def _content(rng: random.Random, short: bool) -> str:
    # the validation minimum is 120 characters: short content stays at or
    # under 100, normal content at or over 149 (30 words of >= 4 letters)
    if short:
        text = _sentence(rng, rng.randint(3, 10))
        return text[: rng.randint(20, 100)].strip() or "brief"
    text = _sentence(rng, rng.randint(30, 55))
    if rng.random() < 0.2:
        text += " R&D <b> results"
    return text


def generate(seed: int, n: int = N_RECORDS) -> tuple[list[dict], GroundTruth]:
    """Return ``(records, truth)`` for ``n`` articles from ``seed``."""
    rng = random.Random(seed)
    names = list(FATE_SHARES)
    weights = [FATE_SHARES[f] for f in names]
    records: list[dict] = []
    truth = GroundTruth(n_load=n)
    complete_keys: list[tuple[str, str]] = []  # cleaned keys of complete records
    valid_titles: list[str] = []

    for i in range(n):
        fate = rng.choices(names, weights)[0]
        if fate == "duplicate" and not complete_keys:
            fate = "valid"
        title = f"{_sentence(rng, rng.randint(3, 8)).capitalize()} #{i}"
        if rng.random() < 0.1:
            title += " & more"
        slug = f"{i}-{rng.randrange(10**6)}"
        url = f"https://news.example.com/{rng.choice(CATEGORIES)}/{slug}"
        if rng.random() < 0.3:
            url = "http" + url[5:]
        date = _date_text(rng)
        content = _content(rng, short=fate == "short_content")

        if fate == "duplicate":
            title, url = rng.choice(complete_keys)
        elif fate == "invalid_url":
            url = rng.choice(("HTTPS://", "HTTP://", "ftp://", "www.", "news.example.com/")) + slug
        elif fate == "missing_published":
            date = rng.choice(BAD_DATES)

        rec = {
            "title": _dirty(rng, title),
            "content": _dirty(rng, content),
            "url": _dirty(rng, url) if rng.random() < 0.2 else url,
            "published": date,
            "category": rng.choice(CATEGORIES),
            "author": rng.choice(AUTHORS),
            "source": rng.choice(SOURCES),
        }
        if fate == "incomplete":
            rec[rng.choice(("title", "content", "url"))] = rng.choice((None, "", "  \t ", "__absent__"))
        for k in [k for k, v in rec.items() if v == "__absent__"]:
            del rec[k]
        records.append(rec)
        truth.fates.append(fate)

        if fate == "incomplete":
            continue
        truth.n_complete += 1
        if fate == "duplicate":
            continue
        complete_keys.append((title, url))
        truth.n_dedup += 1
        if fate != "missing_published":
            truth.n_dated += 1
        if fate == "valid":
            truth.n_valid += 1
            valid_titles.append(title)
        else:
            truth.failure_counts[fate] = truth.failure_counts.get(fate, 0) + 1

    truth.valid_titles_md5 = titles_digest(valid_titles)
    return records, truth


def write_articles(records: list[dict], path) -> None:
    """Write ``records`` as one pretty-printed JSON array."""
    with open(path, "w", encoding="utf-8") as f:
        json.dump(records, f, indent=2, ensure_ascii=False)
