"""Open-loop serving: arrival schedule, request ledger and the stage chain.

Requests arrive on a seeded Poisson schedule that does not slow when the
system slows (an open loop). Each request is timed from its *due* time,
so a stall also charges the wait it imposes on the requests behind it,
and the generator's own lateness is reported separately.
"""

from __future__ import annotations

import hashlib
import random
from bisect import bisect_right

import pandas as pd

from cosmos_xenna_spark.operators.pipeline import PipelineSpec, StageSpec
from cosmos_xenna_spark.operators.stage import Stage
from perfbench.layers import percentile, supported_percentile

_WORDS = (
    "stream frame caption token shard video clip audio image batch worker stage "
    "filter score dedup embed encode decode crop resize label query index"
).split()


def poisson_offsets(rate: float, n: int, rng: random.Random) -> list[float]:
    """Due times (seconds from the step start) of ``n`` Poisson arrivals."""
    t, out = 0.0, []
    for _ in range(n):
        t += rng.expovariate(rate)
        out.append(t)
    return out


def request_text(rng: random.Random) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(5, 40)))


def expected_reply(text: str) -> tuple[int, str]:
    """The reply the stage chain must produce for one request."""
    tokens = text.lower().split()
    return len(tokens), hashlib.sha256(" ".join(tokens).encode()).hexdigest()


class Tokenize(Stage):
    def process_data(self, batch: pd.DataFrame) -> pd.DataFrame:
        tokens = batch["text"].str.lower().str.split()
        return pd.DataFrame(
            {
                "id": batch["id"],
                "tokens": tokens.str.join(" "),
                "n_tokens": tokens.str.len().astype("int64"),
            }
        )


class Digest(Stage):
    def process_data(self, batch: pd.DataFrame) -> pd.DataFrame:
        digest = [hashlib.sha256(t.encode()).hexdigest() for t in batch["tokens"]]
        return pd.DataFrame(
            {"id": batch["id"], "n_tokens": batch["n_tokens"], "digest": digest}
        )


PIPELINE = PipelineSpec(
    stages=[
        StageSpec(Tokenize, "id long, tokens string, n_tokens long", name="tokenize"),
        StageSpec(Digest, "id long, n_tokens long, digest string", name="sha256"),
    ]
)


class Ledger:
    """Per-request due / sent / done times (one clock) and replies."""

    def __init__(self) -> None:
        self.due: dict[int, float] = {}
        self.sent: dict[int, float] = {}
        self.done: dict[int, float] = {}
        self.replies: dict[int, tuple[int, str]] = {}
        self.duplicates = 0

    def record_reply(self, rid: int, t: float, n_tokens: int, digest: str) -> None:
        if rid in self.done:
            self.duplicates += 1
            return
        self.done[rid] = t
        self.replies[rid] = (n_tokens, digest)

    def latencies_ms(self, ids) -> list[float]:
        """Due-time latency of every completed request among ``ids``."""
        return [1000 * (self.done[i] - self.due[i]) for i in ids if i in self.done]

    def gen_lag_ms_max(self, ids) -> float:
        return max((1000 * (self.sent[i] - self.due[i]) for i in ids if i in self.sent),
                   default=0.0)

    def backlog_slope(self, ids, samples: int = 50) -> float:
        """Least-squares slope (requests/s) of sent-but-not-done requests
        over the second half of the window in which ``ids`` were sent (the
        first half is the pipeline filling from empty)."""
        ids = [i for i in ids if i in self.sent]
        if len(ids) < 2:
            return 0.0
        sent = sorted(self.sent[i] for i in ids)
        done = sorted(self.done[i] for i in ids if i in self.done)
        lo, hi = (sent[0] + sent[-1]) / 2, sent[-1]
        if hi <= lo:
            return 0.0
        ts = [lo + (hi - lo) * k / (samples - 1) for k in range(samples)]
        backlog = [bisect_right(sent, t) - bisect_right(done, t) for t in ts]
        mt, mb = sum(ts) / samples, sum(backlog) / samples
        var = sum((t - mt) ** 2 for t in ts)
        return sum((t - mt) * (b - mb) for t, b in zip(ts, backlog)) / var

    def step_stats(self, ids) -> dict[str, float]:
        lat = self.latencies_ms(ids)
        p = supported_percentile(len(lat))
        return {
            "n": float(len(ids)),
            "completed": float(len(lat)),
            "p50_ms": percentile(lat, 50) if lat else 0.0,
            "tail_pct": float(p or 0),
            "tail_ms": percentile(lat, p) if p else 0.0,
            "gen_lag_ms_max": self.gen_lag_ms_max(ids),
            "backlog_slope": self.backlog_slope(ids),
        }


def max_rps(steps, tail_limit_ms: float) -> float:
    """The highest rate of a staircase ``[(rate, step_stats), ...]`` below
    its first step that lost a request or broke the tail limit. A step
    that outran the system leaves a backlog whose wait every later request
    pays, so the tail limit also catches a growing backlog."""
    best = 0.0
    for rate, st in steps:
        if st["completed"] < st["n"] or not 0 < st["tail_ms"] <= tail_limit_ms:
            break
        best = rate
    return best
