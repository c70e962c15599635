"""The benchmark's checks accept right output and reject wrong output.

Run from the checkout root: python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, eventlog, gen


@pytest.fixture(scope="module")
def feed(tmp_path_factory):
    return gen.funding_tick_feed(
        7, str(tmp_path_factory.mktemp("feed")), n_symbols=40, n_ticks=3,
        history=(250, 300),
    )


@pytest.fixture(scope="module")
def store(feed):
    return checks.dedup_latest(feed.sent).drop(columns="t_us")


def half_up(x: pd.Series, digits: int = 6) -> pd.Series:
    """Spark's ROUND: half away from zero on the decimal value."""
    scale = 10.0**digits
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


def program_like_stats(store):
    want = checks.expected_stats(store)
    got = want.drop(columns="n_rows").copy()
    for col in checks.STATS_COLUMNS:
        got[col] = half_up(got[col])
    return got, want


def test_feed_has_resends_and_revisions(feed):
    keys = feed.sent[["symbol", "funding_time"]]
    assert keys.duplicated().sum() > 0
    assert feed.sent["event_id"].duplicated().sum() > 0  # exact re-sends


def test_rates_are_on_the_micro_grid(feed):
    rate = feed.sent["funding_rate"].to_numpy()
    assert np.array_equal(rate, np.rint(rate * 1e6) / 1e6)


def test_feed_reaches_past_the_lookback_and_the_anchor(feed):
    t = pd.DatetimeIndex(feed.sent["funding_time"])
    newest = pd.Series(t).groupby(feed.sent["symbol"]).max()
    oldest = pd.Series(t).groupby(feed.sent["symbol"]).min()
    lookback = t.max() - pd.Timedelta(days=21)
    assert (oldest < lookback).sum() >= 5
    # ended symbols: some inside the lookback, some before it
    assert ((newest < t.max()) & (newest >= lookback)).any()
    assert (newest < lookback).any()


def test_store_check_accepts_dedup_and_rejects_dropped_row(feed, store):
    assert checks.check_store(store, feed.sent) == []
    assert checks.check_store(store.iloc[1:], feed.sent) != []


def test_store_check_rejects_lower_event_id_winner(feed, store):
    sent = feed.sent
    keys = ["symbol", "funding_time"]
    revised = sent.groupby(keys)["event_id"].transform("nunique") > 1
    loser = sent[revised].sort_values("event_id").drop_duplicates(
        keys, keep="first"
    ).iloc[:1]
    bad = pd.concat([store, loser]).drop_duplicates(
        keys, keep="last"
    )
    assert checks.check_store(bad, sent) != []


def test_stats_check_accepts_half_up_rounding(store):
    got, want = program_like_stats(store)
    assert checks.check_stats(got, want) == []
    assert checks.check_guards(got, want) == []


def test_stats_check_accepts_a_half_boundary_either_way(store):
    got, want = program_like_stats(store)
    want = want.copy()
    # the independent value sits exactly on a half-boundary; half-up and
    # half-even roundings are both within half a unit of it
    want.loc[0, "funding_8h"] = 0.0000125
    got.loc[0, "funding_8h"] = 0.000013
    assert checks.check_stats(got, want) == []
    got.loc[0, "funding_8h"] = 0.000012
    assert checks.check_stats(got, want) == []


def test_stats_check_rejects_a_stat_moved_by_1e_5(store):
    got, want = program_like_stats(store)
    got.loc[3, "funding_3d"] += 1e-5
    assert checks.check_stats(got, want) != []


def test_stats_check_rejects_a_missing_symbol(store):
    got, want = program_like_stats(store)
    assert checks.check_stats(got.iloc[1:], want) != []


def test_guard_check_rejects_a_mean_over_too_few_rows(store):
    got, want = program_like_stats(store)
    short = want.index[want["n_rows"] < 270][0]
    got.loc[short, "funding_90d"] = 0.1
    problems = checks.check_guards(got, want)
    assert problems and "funding_90d" in problems[0]


def test_stats_check_rejects_stats_without_the_lookback(store):
    _, want = program_like_stats(store)
    unbounded = checks.expected_stats(store, lookback_days=100_000)
    got = unbounded.drop(columns="n_rows")
    assert checks.check_stats(got, want) + checks.check_guards(got, want) != []


def test_stats_check_rejects_a_per_symbol_anchor(store):
    _, want = program_like_stats(store)
    got = pd.concat(
        [checks.expected_stats(rows) for _, rows in store.groupby("symbol")],
        ignore_index=True,
    ).drop(columns="n_rows")
    assert checks.check_stats(got, want) != []


@pytest.fixture(scope="module")
def dag_events():
    return gen.dag_events(5, n_users=8, rows_per_series=60)


def test_dag_events_cross_the_page_split(dag_events):
    t = pd.DatetimeIndex(dag_events["ts"])
    split = t.max() - pd.Timedelta(days=15)
    overlap = (t >= split - pd.Timedelta(days=2)) & (t < split)
    assert (t < split).sum() > 0 and overlap.sum() > 0


def program_like_summary(want):
    return [
        (stage, n, None if chk is None else round(chk, 4))
        for stage, (n, chk, _) in want.items()
    ]


def test_dag_check_accepts_rounded_summary(dag_events):
    want = checks.expected_dag(dag_events)
    assert checks.check_dag(program_like_summary(want), want) == []


def test_dag_check_rejects_a_dropped_row(dag_events):
    want = checks.expected_dag(dag_events)
    summary = program_like_summary(want)
    stage, n, chk = summary[4]
    summary[4] = (stage, n - 1, chk)
    assert checks.check_dag(summary, want) != []


def test_dag_check_rejects_a_moved_checksum(dag_events):
    want = checks.expected_dag(dag_events)
    summary = program_like_summary(want)
    stage, n, chk = summary[1]
    summary[1] = (stage, n, chk + 1e-3)
    assert checks.check_dag(summary, want) != []


@pytest.fixture(scope="module")
def corpus():
    return gen.near_dup_corpus(3, 400)


def exact_pairs(corpus):
    """All pairs with Jaccard >= 0.5: what a perfect LSH would report."""
    sh = {d: checks.shingles(t) for d, t in zip(corpus.docs["doc_id"], corpus.docs["text"])}
    rows = [
        (a, b, checks.jaccard(sh[a], sh[b]))
        for a, b in itertools.combinations(sorted(sh), 2)
        if checks.jaccard(sh[a], sh[b]) >= 0.5
    ]
    return pd.DataFrame(rows, columns=["id_a", "id_b", "jaccard"])


def clusters_of(corpus, pairs):
    ids = corpus.docs["doc_id"]
    comp = checks.union_find_clusters(ids, zip(pairs["id_a"], pairs["id_b"]))
    df = pd.DataFrame({"doc_id": ids, "cluster_id": [comp[int(d)] for d in ids]})
    df["is_canonical"] = df["doc_id"] == df["cluster_id"]
    return df


def test_near_dup_check_accepts_exact_pairs(corpus):
    pairs = exact_pairs(corpus)
    assert len(pairs) > 50
    assert checks.check_near_dups(
        corpus.docs, corpus.families, pairs, clusters_of(corpus, pairs)
    ) == []


def test_near_dup_check_rejects_two_merged_clusters(corpus):
    pairs = exact_pairs(corpus)
    clusters = clusters_of(corpus, pairs)
    roots = clusters.loc[~clusters["is_canonical"], "cluster_id"].unique()
    a, b = sorted(roots[:2])
    clusters.loc[clusters["cluster_id"] == b, "cluster_id"] = a
    clusters["is_canonical"] = clusters["doc_id"] == clusters["cluster_id"]
    assert checks.check_near_dups(
        corpus.docs, corpus.families, pairs, clusters
    ) != []


def test_near_dup_check_rejects_a_false_pair(corpus):
    pairs = exact_pairs(corpus)
    far = corpus.families[0][0], corpus.families[1][0]
    bad = pd.concat(
        [pairs, pd.DataFrame([(min(far), max(far), 0.9)], columns=pairs.columns)]
    )
    clusters = clusters_of(corpus, bad)
    problems = checks.check_near_dups(corpus.docs, corpus.families, bad, clusters)
    assert any("Jaccard" in p for p in problems)


def test_near_dup_check_rejects_low_recall(corpus):
    pairs = exact_pairs(corpus).iloc[::2]
    problems = checks.check_near_dups(
        corpus.docs, corpus.families, pairs, clusters_of(corpus, pairs)
    )
    assert any("recall" in p for p in problems)


def test_collision_probability_matches_banding():
    assert checks.band_collision_probability(1.0) == 1.0
    assert checks.band_collision_probability(0.0) == 0.0
    assert abs(checks.band_collision_probability(0.8) - (1 - 0.488**4)) < 1e-12


def test_union_of_job_spans():
    assert eventlog.union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert eventlog.union_ms([]) == 0
