import filecmp
import os

import gen
from oracles import dup_clusters


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, _, names in os.walk(root) for n in names
    )


def _same_tree(a, b):
    fa, fb = _files(a), _files(b)
    return fa == fb and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in fa
    )


def test_star_and_corpus_same_seed_same_bytes(tmp_path):
    for run in ("a", "b"):
        gen.write_star(str(tmp_path / run), seed=7, sf=0.001)
    gen.write_star(str(tmp_path / "c"), seed=8, sf=0.001)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_tick_history_and_landed_day_same_seed_same_bytes(tmp_path):
    feeds = []
    for run in ("a", "b"):
        s = gen.TickStream(seed=3, history_days=2)
        s.write_history(str(tmp_path / run))
        plan = s.day_plan(timed=8, replays=2)
        s.land(str(tmp_path / run), plan[3][0])
        s.next_tick()
        feeds.append((plan, [dict(b) for b in s.bars]))
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert feeds[0] == feeds[1]
    landed = plan[3][0] - 2 * gen.TickStream.SLOTS_PER_DAY
    # one compacted file per history day and coin, one file per landed tick and coin
    assert len(_files(tmp_path / "a")) == (2 + landed) * len(gen.COINS)


def test_days_of_timed_and_landed_ticks_cover_every_slot(tmp_path):
    s = gen.TickStream(seed=1, history_days=0)
    day = gen.TickStream.SLOTS_PER_DAY
    url = "https://x/v1/ohlcv/BITSTAMP_SPOT_BTC_USD/latest?period_id=5MIN&limit=1"
    for _ in range(2):
        first = s.slot
        plan = s.day_plan(timed=8, replays=2)
        assert [(slot - first) // (day // 8) for slot, _ in plan] == list(range(8))
        assert [sum(r for _, r in plan[:4]), sum(r for _, r in plan[4:])] == [1, 1]
        for slot, _ in plan:
            s.land(str(tmp_path), slot)
            s.next_tick()
            start = s.fetcher(url, {})[0]["time_period_start"]
            assert start == s.bars[-3]["time_period_start"]
            assert s.day_of(slot) == s.day_of(first)
        s.land(str(tmp_path), first + day)
    assert s.slot == 2 * day and len(s.bars) == 2 * day * len(gen.COINS)
    assert len(_files(tmp_path)) == 2 * (day - 8) * len(gen.COINS)


def test_planted_duplicates_form_the_reference_clusters(tmp_path):
    import pyarrow.parquet as pq

    planted = gen.write_corpus(str(tmp_path), seed=5, n_docs=400, n_vecs=20,
                               exact_dup=0.05, near_dup=0.1)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pylist()
    clusters = dup_clusters([(d["doc_id"], d["text"]) for d in docs])
    merged = sum(1 for d, c in clusters.items() if d != c)
    assert merged == planted["exact_dup"] + planted["near_dup"]
