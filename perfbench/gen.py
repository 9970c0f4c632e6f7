"""Seeded input generation. The same seed always gives the same inputs.

Engine records are JSON-able dicts ``{user, kind, v, text}`` of about
200 bytes: ``user`` is Zipf-skewed over ``N_USERS`` keys, ``kind`` is one
of 8 values and ``v`` is a small integer (so sums are exact in every
engine).
"""

from __future__ import annotations

import bisect
import random

N_USERS = 10_000
KINDS = [f"k{i}" for i in range(8)]
ZIPF_S = 1.1
WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "the line sort window order data column join small query customer "
    "filter group stream big vector a"
).split()


class Records:
    """Stream of engine records plus a Zipf sampler for user keys."""

    def __init__(self, seed: int, n_users: int = N_USERS):
        self.rng = random.Random(seed)
        weights = [1.0 / (i + 1) ** ZIPF_S for i in range(n_users)]
        total = sum(weights)
        acc, cdf = 0.0, []
        for w in weights:
            acc += w / total
            cdf.append(acc)
        self._cdf = cdf
        # a user id's rank is shuffled so hot keys are not all low ids
        self._users = [f"u{i:05d}" for i in range(n_users)]
        self.rng.shuffle(self._users)
        self._texts = [
            " ".join(self.rng.choice(WORDS) for _ in range(30))[:150]
            for _ in range(512)
        ]

    def user(self) -> str:
        i = bisect.bisect_left(self._cdf, self.rng.random())
        return self._users[min(i, len(self._users) - 1)]

    def batch(self, n: int) -> list[dict]:
        r = self.rng
        return [
            {
                "user": self.user(),
                "kind": KINDS[r.randrange(8)],
                "v": r.randrange(1000),
                "text": self._texts[r.randrange(512)],
            }
            for _ in range(n)
        ]
