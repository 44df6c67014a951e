"""Tests of the benchmark's input generator and expected outputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import gen

FIXTURE = os.path.join(gen.ROOT, "tests", "fixtures", "gdelt", "v2_events.tsv")


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def _backfill(tmp_path, seed: int, sub: str) -> dict[str, bytes]:
    d = tmp_path / sub
    gen.write_backfill(gen.backfill_drops(seed, 4, 50, 0.25), str(d))
    return _files(str(d))


def _stream(tmp_path, stream, sub: str, ticks: int = 4) -> dict[str, bytes]:
    d = tmp_path / sub
    for _ in range(ticks):
        stream.write_next(str(d))
    return _files(str(d))


def _live(tmp_path, seed: int, sub: str) -> dict[str, bytes]:
    return _stream(tmp_path, gen.LiveStream(seed, 50, 0.25), sub)


def test_same_seed_gives_identical_drops(tmp_path):
    assert _backfill(tmp_path, 7, "a") == _backfill(tmp_path, 7, "b")
    assert _live(tmp_path, 7, "c") == _live(tmp_path, 7, "d")


def test_different_seed_gives_different_drops(tmp_path):
    for make in (_backfill, _live):
        a, b = make(tmp_path, 7, "a"), make(tmp_path, 8, "b")
        assert a.keys() == b.keys() and all(a[k] != b[k] for k in a)


def test_keep_first_on_committed_fixture():
    with open(FIXTURE) as f:
        rows = [line.rstrip("\n").split("\t") for line in f]
    assert len(rows) == 2000 and all(len(r) == gen.N_V2_COLS for r in rows)
    kept = gen.keep_first(rows)
    # the fixture's last 500 rows repeat the URLs of its first 1,500:
    # the duplicate share the workloads use
    assert len(kept) == 1500
    assert 1 - len(kept) / len(rows) == gen.FIXTURE_DUP_SHARE
    assert sorted(int(r[gen.GID]) for r in kept) == list(range(1000, 2500))
    exp = gen.expected_backfill(rows)
    assert exp["v2_exports_rows"] == exp["v2_articles_rows"] == exp["v2_geom_rows"] == 1500


def test_backfill_duplicates_keep_lowest_event_id():
    rows = [r for d in gen.backfill_drops(3, 8, 100, 0.2) for r in d]
    assert len(rows) == 800 and all(len(r) == gen.N_V2_COLS for r in rows)
    urls = [r[gen.SOURCEURL] for r in rows]
    n_dup = len(urls) - len(set(urls))
    assert 100 < n_dup < 220  # about a fifth of the rows
    kept = gen.keep_first(rows)
    assert len(kept) == len(set(urls))
    first = {}
    for r in sorted(rows, key=lambda r: int(r[gen.GID])):
        first.setdefault(r[gen.SOURCEURL], r[gen.GID])
    assert {r[gen.SOURCEURL]: r[gen.GID] for r in kept} == first


def test_table_hash_ignores_row_order():
    rows = [(1, "a"), (2, "b"), (2, "b"), (3, None)]
    assert gen.table_hash(rows) == gen.table_hash(rows[::-1])
    assert gen.table_hash(rows) != gen.table_hash(rows[:3])


def test_live_stream_keeps_first_sight_of_each_url():
    s = gen.LiveStream(5, 200, 0.25)
    drops = [s.next_drop()[1] for _ in range(12)]
    seen, kept = set(), []
    for tick, rows in enumerate(drops):
        t_drop = gen.LIVE_START + gen.dt.timedelta(minutes=15 * tick)
        for r in rows:
            added = gen.dt.datetime.strptime(r[gen.DATEADDED], "%Y%m%d%H%M%S")
            # inside the 30-minute watermark of the newest drop
            assert t_drop - gen.dt.timedelta(minutes=30) < added <= t_drop
            if r[gen.SOURCEURL] not in seen:
                kept.append(r)
            seen.add(r[gen.SOURCEURL])
    assert kept == s.kept
    assert 0.2 < 1 - len(kept) / 2400 < 0.3
    totals = s.expected_totals()
    # the ticks cross midnight, so two days are touched
    assert {day for day, _ in totals} == {"2024-03-01", "2024-03-02"}
    assert sum(n for n, _ in totals.values()) == len(kept)
