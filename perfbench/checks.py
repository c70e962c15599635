"""Output checks, computed apart from the program with pandas/NumPy.

Each check returns a list of problems (empty when the output is right).
Rounded outputs are compared with the UNROUNDED independent value within
half a unit of the last kept digit plus a small epsilon: Spark's ROUND is
half-up, NumPy's and pandas' are not, so re-rounding the independent
value and testing equality would flag correct output on half-boundaries.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

ANNUALIZE = 3 * 365
WINDOWS = {
    "funding_24h": 3,
    "funding_3d": 9,
    "funding_7d": 21,
    "funding_14d": 42,
    "funding_30d": 90,
    "funding_90d": 270,
}
STATS_COLUMNS = [
    "dollar_volume_24h",
    "predicted_funding_rate",
    "funding_8h",
    *WINDOWS,
]
EPS = 1e-9


def half_unit(digits: int) -> float:
    return 0.5 * 10.0 ** -digits


def _micros(ts) -> np.ndarray:
    """Timestamps (tz-aware or naive UTC) as int64 epoch microseconds."""
    idx = pd.DatetimeIndex(ts)
    if idx.tz is not None:
        idx = idx.tz_convert("UTC").tz_localize(None)
    return idx.as_unit("us").asi8


# -- funding store and stats -------------------------------------------


def dedup_latest(rates: pd.DataFrame) -> pd.DataFrame:
    """One row per (symbol, funding_time): the highest event_id wins."""
    df = rates.assign(t_us=_micros(rates["funding_time"]))
    df = df.sort_values("event_id", kind="stable")
    return df.drop_duplicates(["symbol", "t_us"], keep="last")


def check_store(store: pd.DataFrame, sent: pd.DataFrame) -> list[str]:
    """The rates store equals the deduplication of everything sent,
    compared exactly on raw doubles; its row count equals the number of
    distinct keys sent."""
    want = dedup_latest(sent)
    got = store.assign(t_us=_micros(store["funding_time"]))
    problems = []
    if len(got) != len(want):
        problems.append(
            f"store holds {len(got)} rows, {len(want)} distinct keys were sent"
        )
    if got.duplicated(["symbol", "t_us"]).any():
        problems.append("store holds a key more than once")
    both = want.merge(
        got, on=["symbol", "t_us"], how="outer", suffixes=("_w", "_g"),
        indicator=True,
    )
    missing = (both["_merge"] != "both").sum()
    if missing:
        problems.append(f"{missing} keys differ between store and sent set")
    both = both[both["_merge"] == "both"]
    bad_rate = (both["funding_rate_w"] != both["funding_rate_g"]).sum()
    bad_id = (both["event_id_w"] != both["event_id_g"]).sum()
    if bad_rate or bad_id:
        problems.append(
            f"{bad_rate} stored rates and {bad_id} event ids are not the "
            "highest-event_id value sent"
        )
    return problems


def expected_stats(rates: pd.DataFrame, lookback_days: int = 21) -> pd.DataFrame:
    """The funding-stats definition, unrounded, over a rates table that is
    unique on (symbol, funding_time): anchor at the newest funding time;
    within the lookback, per symbol, the newest rate and the guarded mean
    of the N newest rates (NULL below N rows), all annualized x3x365, and
    the plain sum of the last day's rates."""
    t = _micros(rates["funding_time"])
    anchor = t.max()
    day = 86_400_000_000
    keep = t >= anchor - lookback_days * day
    df = pd.DataFrame(
        {
            "symbol": rates["symbol"].to_numpy()[keep],
            "t": t[keep],
            "eid": rates["event_id"].to_numpy()[keep],
            "r": rates["funding_rate"].to_numpy()[keep],
        }
    ).sort_values(["symbol", "t", "eid"], ascending=[True, False, False])
    df["rn"] = df.groupby("symbol").cumcount() + 1
    g = df.groupby("symbol")
    out = pd.DataFrame(index=g.size().index)
    out["n_rows"] = g.size()
    newest = df[df["rn"] == 1].set_index("symbol")["r"] * ANNUALIZE
    out["funding_8h"] = newest
    out["predicted_funding_rate"] = newest
    out["dollar_volume_24h"] = (
        df["r"].where(df["t"] >= anchor - day).groupby(df["symbol"]).sum(
            min_count=1
        )
    )
    for col, n in WINDOWS.items():
        head = df[df["rn"] <= n].groupby("symbol")["r"]
        mean = head.mean() * ANNUALIZE
        out[col] = mean.where(head.size() >= n)
    return out.reset_index()


def check_stats(got: pd.DataFrame, want: pd.DataFrame, digits: int = 6) -> list[str]:
    """Program stats against the independent ones: the same symbols, the
    same NULLs, and every value within half a unit of the 6th decimal."""
    problems = []
    g = got.set_index("symbol").sort_index()
    w = want.set_index("symbol").sort_index()
    if list(g.index) != list(w.index):
        extra = len(g.index.difference(w.index))
        lost = len(w.index.difference(g.index))
        return [f"stats symbols differ: {extra} unexpected, {lost} missing"]
    tol = half_unit(digits) + EPS
    for col in STATS_COLUMNS:
        gv = g[col].to_numpy(dtype=float)
        wv = w[col].to_numpy(dtype=float)
        null_diff = np.isnan(gv) != np.isnan(wv)
        if null_diff.any():
            problems.append(f"{col}: NULL differs for {null_diff.sum()} symbols")
        both = ~np.isnan(gv) & ~np.isnan(wv)
        err = np.abs(gv[both] - wv[both])
        if err.size and err.max() > tol:
            problems.append(
                f"{col}: {(err > tol).sum()} values off by up to {err.max():.3g}"
            )
    return problems


def check_guards(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Each guarded window is NULL exactly for the symbols with fewer than
    N rows inside the lookback."""
    g = got.set_index("symbol")
    n_rows = want.set_index("symbol")["n_rows"].reindex(g.index)
    problems = []
    for col, n in WINDOWS.items():
        wrong = (g[col].isna() != (n_rows < n)).sum()
        if wrong:
            problems.append(f"{col}: NULL guard wrong for {wrong} symbols")
    return problems


# -- main DAG ----------------------------------------------------------


def expected_dag(events: pd.DataFrame, lookback_days: int = 21) -> dict:
    """Per stage (n_rows, unrounded checksum, checksum tolerance),
    derived from the generated events alone."""
    ev = events
    even = ev[ev["event_id"] % 2 == 0]
    purchase = ev[ev["event_type"] == "purchase"]
    term_min = ev.groupby(ev["user_id"] % 4)["value"].min()
    chk_tol = half_unit(4) + EPS
    symbol = ev["user_id"].astype(str) + "-" + ev["event_type"]
    universe = set(
        even["user_id"].astype(str) + "-" + even["event_type"]
    )
    rates = pd.DataFrame(
        {
            "symbol": symbol,
            "funding_time": ev["ts"],
            "funding_rate": ev["value"],
            "event_id": ev["event_id"],
        }
    )[symbol.isin(universe)]
    store = dedup_latest(rates)
    stats = expected_stats(store, lookback_days)
    return {
        "create_tables": (10, None, None),
        "update_active_futures": (len(even), even["value"].sum(), chk_tol),
        "update_active_spot_pairs": (
            len(purchase), purchase["value"].sum(), chk_tol
        ),
        "append_new_lending_data": (
            len(term_min),
            (term_min * 365).sum(),
            chk_tol + len(term_min) * half_unit(6),
        ),
        "update_funding_data": (
            len(store), store["funding_rate"].sum(), chk_tol
        ),
        "update_funding_stats": (
            len(stats),
            stats["funding_8h"].sum(),
            chk_tol + len(stats) * half_unit(6),
        ),
    }


def check_dag(summary: list[tuple], want: dict) -> list[str]:
    """Each stage's n_rows equals the derived count and each checksum is
    within its rounding tolerance of the independent sum."""
    problems = []
    got = {stage: (n, chk) for stage, n, chk in summary}
    if list(got) != list(want):
        return [f"stages {list(got)} != {list(want)}"]
    for stage, (n, chk, tol) in want.items():
        g_n, g_chk = got[stage]
        if g_n != n:
            problems.append(f"{stage}: n_rows {g_n} != {n}")
        if tol is None:
            if g_chk is not None:
                problems.append(f"{stage}: unexpected checksum {g_chk}")
        elif g_chk is None or abs(g_chk - chk) > tol:
            problems.append(f"{stage}: checksum {g_chk} != {chk:.6f}")
    return problems


# -- near-duplicate clusters --------------------------------------------

_TOKEN = re.compile(r"\S+")


def shingles(text: str, n: int = 3) -> frozenset[str]:
    """Distinct n-token shingles; a shorter document is one shingle."""
    toks = _TOKEN.findall(text)
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def union_find_clusters(doc_ids, pairs) -> dict[int, int]:
    """doc id -> minimum doc id of its connected component."""
    parent = {int(d): int(d) for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in parent}


def band_collision_probability(j: float, rows: int = 3, bands: int = 4) -> float:
    """P(a pair with Jaccard j shares at least one LSH band)."""
    return 1.0 - (1.0 - j**rows) ** bands


def recall_bound(probabilities: list[float], sigmas: float = 6.0) -> float:
    """Lower bound on recall over pairs that collide independently with
    the given probabilities: the expected share minus ``sigmas`` standard
    deviations (widened because pairs of one family share documents)."""
    n = len(probabilities)
    mean = sum(probabilities) / n
    sd = math.sqrt(sum(p * (1 - p) for p in probabilities)) / n
    return mean - sigmas * sd


def planted_recall(sh: dict, families, reported, threshold: float = 0.5):
    """(recall, its lower bound, pair count) over the planted pairs whose
    Jaccard reaches ``threshold``."""
    planted, probs = [], []
    for fam in families:
        for i, a in enumerate(fam):
            for b in fam[i + 1 :]:
                j = jaccard(sh[a], sh[b])
                if j >= threshold:
                    planted.append((min(a, b), max(a, b)))
                    probs.append(band_collision_probability(j))
    found = set(reported)
    recall = sum(p in found for p in planted) / len(planted)
    return recall, recall_bound(probs), len(planted)


def check_near_dups(
    docs: pd.DataFrame,
    families: list[list[int]],
    pairs: pd.DataFrame,
    clusters: pd.DataFrame,
    threshold: float = 0.5,
) -> list[str]:
    """Reported pairs are true near-duplicates, clusters are the
    components of the reported pairs, and recall on planted pairs is no
    lower than the banding's collision probability allows."""
    problems = []
    sh = dict(zip(docs["doc_id"].astype(int), map(shingles, docs["text"])))
    reported = list(zip(pairs["id_a"].astype(int), pairs["id_b"].astype(int)))
    if any(a >= b for a, b in reported) or len(set(reported)) != len(reported):
        problems.append("pairs are not distinct with id_a < id_b")
    low = [(a, b) for a, b in reported if jaccard(sh[a], sh[b]) < threshold]
    if low:
        problems.append(f"{len(low)} reported pairs have Jaccard < {threshold}")

    want = union_find_clusters(sh, reported)
    got = dict(zip(clusters["doc_id"].astype(int), clusters["cluster_id"].astype(int)))
    if got != want:
        wrong = sum(1 for d in want if got.get(d) != want[d])
        problems.append(
            f"cluster ids differ from union-find for {wrong} docs "
            f"({len(got)} docs returned, {len(want)} expected)"
        )
    canon = clusters["is_canonical"].astype(bool).to_numpy()
    if (canon != (clusters["doc_id"] == clusters["cluster_id"]).to_numpy()).any():
        problems.append("is_canonical is not doc_id == cluster_id")

    recall, bound, n = planted_recall(sh, families, reported, threshold)
    if recall < bound:
        problems.append(
            f"recall {recall:.4f} on {n} planted pairs is below "
            f"the banding bound {bound:.4f}"
        )
    return problems
