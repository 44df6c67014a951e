"""Seeded input drops and their expected outputs, in pure Python.

Two drop kinds, one per workload:

- zipped 15-minute GDELT v2 export drops (``v2_backfill``),
- plain-TSV 15-minute export drops (``live_rollup``).

Event rows reuse the 61-column row shapes of
``scripts/gen_gdelt_fixtures.py`` (imported, not copied); the
generator replaces only the event id, the date columns, DATEADDED and
SOURCEURL.  The fixture's SOURCEURL repeats every 1,500 rows, so it is
replaced by a URL that is unique unless the generator plants a
duplicate on purpose.

The duplicate share is measured, not chosen: ``FIXTURE_DUP_SHARE`` is
the share of rows of the committed fixture
``tests/fixtures/gdelt/v2_events.tsv`` whose SOURCEURL repeats an
earlier row's (500 of 2,000).

Every function here is deterministic in its ``seed``: the same seed
writes byte-identical files and computes the same expected results.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import importlib.util
import os
import random
import zipfile
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# 0-based columns of a v2 export row (public GDELT 2.0 codebook)
GID, SQLDATE, MONTHYEAR, YEAR = 0, 1, 2, 3
ROOT_CODE, NUM_ARTICLES = 28, 33
A1_LAT, A1_LON = 40, 41
DATEADDED, SOURCEURL = 59, 60
N_V2_COLS = 61

# backfill: one day of 15-minute drops
BACKFILL_START = dt.datetime(2024, 3, 1, 0, 0, 0)
# live: ticks start an hour before midnight, so a run crosses a day
# boundary and early-morning drops carry events of the previous day
LIVE_START = dt.datetime(2024, 3, 1, 23, 0, 0)

# share of rows of the committed v2 fixture that repeat an earlier
# row's SOURCEURL (500 of 2,000; checked in test_gen.py)
FIXTURE_DUP_SHARE = 0.25


def _fixture_events() -> list[list[str]]:
    path = os.path.join(ROOT, "scripts", "gen_gdelt_fixtures.py")
    spec = importlib.util.spec_from_file_location("gen_gdelt_fixtures", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    rows, _ = mod.gen_events(random.Random(20240210))
    return rows


_TEMPLATES: list[list[str]] | None = None


def templates() -> list[list[str]]:
    """The fixture script's 2,000 v2 event rows (61 string fields)."""
    global _TEMPLATES
    if _TEMPLATES is None:
        _TEMPLATES = _fixture_events()
    return _TEMPLATES


def ts14(t: dt.datetime) -> str:
    return t.strftime("%Y%m%d%H%M%S")


def event_row(
    rng: random.Random, gid: int, added: dt.datetime, url: str
) -> list[str]:
    """A fixture-shaped v2 row with a new id, dates and SOURCEURL."""
    row = list(templates()[rng.randrange(len(templates()))])
    day = added.strftime("%Y%m%d")
    row[GID] = str(gid)
    row[SQLDATE], row[MONTHYEAR], row[YEAR] = day, day[:6], day[:4]
    row[DATEADDED] = ts14(added)
    row[SOURCEURL] = url
    return row


def _url(seed: int, uid: int) -> str:
    return f"http://site{uid % 37}.example.com/articles/{seed}-{uid}"


def _tsv(rows: list[list[str]]) -> bytes:
    return "".join("\t".join(r) + "\n" for r in rows).encode("ascii")


# ---------------------------------------------------------------- v2_backfill


def backfill_drops(
    seed: int, n_drops: int, rows_per_drop: int, dup_share: float
) -> list[list[list[str]]]:
    """Rows (in file order) of ``n_drops`` consecutive 15-minute drops.
    A ``dup_share`` of rows repeat the SOURCEURL of an earlier row of
    the day; event ids grow
    with generation order but each drop is shuffled, so file order
    is not id order."""
    rng = random.Random(f"backfill:{seed}")
    urls: list[str] = []
    gid = 500_000_000
    drops = []
    for k in range(n_drops):
        t0 = BACKFILL_START + dt.timedelta(minutes=15 * k)
        rows = []
        for _ in range(rows_per_drop):
            gid += 1
            if urls and rng.random() < dup_share:
                url = urls[rng.randrange(len(urls))]
            else:
                url = _url(seed, gid)
                urls.append(url)
            added = t0 + dt.timedelta(seconds=rng.randrange(15 * 60))
            rows.append(event_row(rng, gid, added, url))
        rng.shuffle(rows)
        drops.append(rows)
    return drops


def write_backfill(drops: list[list[list[str]]], out_dir: str) -> str:
    """Write each drop as ``<ts>.export.CSV.zip``; returns the glob."""
    os.makedirs(out_dir, exist_ok=True)
    for k, rows in enumerate(drops):
        t = BACKFILL_START + dt.timedelta(minutes=15 * k)
        name = f"{ts14(t)}.export.CSV"
        path = os.path.join(out_dir, name + ".zip")
        # fixed member timestamp: same seed, same bytes
        info = zipfile.ZipInfo(name, date_time=(2024, 3, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(info, _tsv(rows))
    return os.path.join(out_dir, "*.zip")


def row_digest(values) -> int:
    """64-bit digest of one row's values (joined as strings)."""
    text = "\x1f".join("" if v is None else str(v) for v in values)
    return int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big")


def table_hash(rows) -> int:
    """Order-independent hash of a row multiset: sum of row digests."""
    return sum(row_digest(r) for r in rows) % (1 << 64)


# the v2_exports columns the hash covers, as (landed name, row index)
EXPORT_HASH_COLS = (
    ("globaleventid", GID),
    ("sqldate", SQLDATE),
    ("eventrootcode", ROOT_CODE),
    ("numarticles", NUM_ARTICLES),
    ("dateadded", DATEADDED),
    ("sourceurl", SOURCEURL),
)


def keep_first(rows: list[list[str]]) -> list[list[str]]:
    """The reference's SOURCEURL dedup, deterministic: per URL, the row
    with the lowest GLOBALEVENTID."""
    best: dict[str, list[str]] = {}
    for r in rows:
        cur = best.get(r[SOURCEURL])
        if cur is None or int(r[GID]) < int(cur[GID]):
            best[r[SOURCEURL]] = r
    return list(best.values())


def _valid_coords(r: list[str]) -> bool:
    try:
        lat, lon = float(r[A1_LAT]), float(r[A1_LON])
    except ValueError:
        return False
    return -90 <= lat <= 90 and -180 <= lon <= 180


def expected_backfill(rows: list[list[str]]) -> dict:
    """Row count and hash of ``v2_exports``; ``v2_geom`` and
    ``v2_articles`` row counts."""
    kept = keep_first(rows)
    return {
        "v2_exports_rows": len(kept),
        "v2_exports_hash": table_hash(
            [int(r[i]) if i != ROOT_CODE and i != SOURCEURL else r[i]
             for _, i in EXPORT_HASH_COLS]
            for r in kept
        ),
        "v2_geom_rows": sum(_valid_coords(r) for r in kept),
        "v2_articles_rows": len(kept),
    }


# ---------------------------------------------------------------- live_rollup


@dataclass
class LiveStream:
    """Plain-TSV drops for consecutive ticks of the live rollup."""

    seed: int
    rows_per_drop: int
    dup_share: float
    rng: random.Random = field(init=False)
    tick: int = 0
    uid: int = 700_000_000
    # new rows (not copies) of the previous drop
    prev: list[list[str]] = field(default_factory=list)
    # rows the stream should keep: first sight of a URL
    kept: list[list[str]] = field(default_factory=list)

    def __post_init__(self) -> None:
        self.rng = random.Random(f"live:{self.seed}")

    def next_drop(self) -> tuple[str, list[list[str]]]:
        """Rows of the next tick's drop and its file name.

        A ``dup_share`` of rows copy a new row of this drop or the one
        before (same URL, DATEADDED and values; new event id), so the
        copy always lies inside the 30-minute watermark and
        ``dropDuplicatesWithinWatermark`` must drop it.  The rest are
        new events added in the drop's 15 minutes.
        """
        rng = self.rng
        t_drop = LIVE_START + dt.timedelta(minutes=15 * self.tick)
        rows: list[list[str]] = []
        new: list[list[str]] = []
        for _ in range(self.rows_per_drop):
            self.uid += 1
            pool = self.prev + new
            if pool and rng.random() < self.dup_share:
                row = list(pool[rng.randrange(len(pool))])
                row[GID] = str(self.uid)
            else:
                added = t_drop - dt.timedelta(seconds=rng.randrange(14 * 60))
                row = event_row(rng, self.uid, added, _url(self.seed, self.uid))
                new.append(row)
            rows.append(row)
        self.prev = new
        self.kept += new
        name = f"{ts14(t_drop)}.export.CSV"
        self.tick += 1
        return name, rows

    def write_next(self, landing_dir: str) -> str:
        name, rows = self.next_drop()
        os.makedirs(landing_dir, exist_ok=True)
        tmp = os.path.join(landing_dir, "." + name)
        with open(tmp, "wb") as f:
            f.write(_tsv(rows))
        path = os.path.join(landing_dir, name)
        os.replace(tmp, path)  # the file source must never see a partial drop
        return path

    def expected_totals(self) -> dict[tuple[str, str], tuple[int, int]]:
        return rollup_totals(self.kept)


def rollup_totals(rows: list[list[str]]) -> dict[tuple[str, str], tuple[int, int]]:
    """(day, root_code) -> (n_events, n_articles), day from DATEADDED."""
    out: dict[tuple[str, str], tuple[int, int]] = {}
    for r in rows:
        a = r[DATEADDED]
        key = (f"{a[:4]}-{a[4:6]}-{a[6:8]}", r[ROOT_CODE])
        n, arts = out.get(key, (0, 0))
        out[key] = (n + 1, arts + int(r[NUM_ARTICLES]))
    return out
