"""The workloads' query lists and their seeded input sequences."""
import numpy as np

# Dashboard panels in popularity rank: read i has Zipf weight 1/(i+1).
# filter_scan stays out: its ORDER BY (l_orderkey, l_linenumber) is not
# a key of sf0.1's lineitem, so the oracle cannot pin its row order.
PANELS = [
    "q1_agg", "topk_revenue", "vwap", "latest_per_key", "ohlc_bars",
    "join_broadcast", "window_tumbling", "snapshot_proj",
    "market_share", "fin_ratio", "semi_anti", "realized_vol", "fin_statement",
    "news_dateparse", "rolling_beta", "drawdown", "anomaly_zscore",
    "asof_join", "sessionize", "percentiles", "rollup_agg", "grouping_sets",
    "topk_per_group", "sentiment_daily", "trending", "bm25_search",
    "hybrid_search",
]

# The traced tour's batch slice over the ×10 corpus: a keyed-window
# operator (at 1M events it crosses Rank.SingleWindowMax and takes the
# two-level route), a text kernel, a vector kernel and one corpus-cache
# artifact, which runs twice per pass (build, then reuse). Each matches
# the oracle exactly at ×10.
BATCH = ["attribution", "quality_score", "embed_stats", "percentiles"]
ARTIFACTS = ["percentiles"]

# The traced tour runs a slice of each workload twice (plain, traced).
TOUR_READS = 6
TOUR_STEPS = 5


def dashboard_sequence(seed, n):
    """n reads in the panels' Zipf popularity mix, in a seeded order.
    Each panel gets its quota n·w, the largest remainders (ties broken
    by the seed) take the reads left over. A run holds a few dozen
    reads at most; drawing each at random would let the seed set the
    mix, and with it every latency figure of the run."""
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, len(PANELS) + 1)
    quota = n * w / w.sum()
    count = np.floor(quota).astype(int)
    by_rest = np.lexsort((rng.random(len(PANELS)), count - quota))
    count[by_rest[:n - count.sum()]] += 1
    return [str(p) for p in rng.permutation(np.repeat(PANELS, count))]


def batch_order(seed):
    """The batch slice in a seeded order."""
    return [str(q) for q in np.random.default_rng(seed).permutation(BATCH)]
