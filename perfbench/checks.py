"""Correctness checks for every benchmark operation.

Each check is a pure function ``(actual, expected, ...) -> str | None``
that returns a failure message or ``None``. A :class:`Checker` runs them and
counts failures, so they land in ``error_rate``; nothing is skipped.
:meth:`Checker.self_check` feeds one perturbed expected answer into every
check site a run used and requires each to fail, so no check can pass
vacuously.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TIE_ATOL = 1e-9  # scores closer than this are ties; either order is right


def topk_ids(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Exact top-k ids by descending score, ties broken by ascending id."""
    return ids[np.lexsort((ids, -scores))[:k]]


def cosine_scores(matrix: np.ndarray, q: np.ndarray) -> np.ndarray:
    m = matrix.astype(np.float64)
    q = np.asarray(q, dtype=np.float64)
    return (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))


def check_topk(got: list[int], expected: list[int], score_of: dict[int, float]) -> str | None:
    """Ids must equal the exact top-k; a swap is accepted only between
    ids whose exact scores tie."""
    if list(got) == list(expected):
        return None
    if len(got) != len(expected) or len(set(got)) != len(got):
        return f"top-k ids {list(got)[:5]}.. differ from {list(expected)[:5]}.."
    if any(i not in score_of for i in (*got, *expected)):
        return "top-k ids fall outside the searched set"
    a = np.array([score_of[g] for g in got])
    b = np.array([score_of[e] for e in expected])
    if np.allclose(a, b, rtol=0.0, atol=TIE_ATOL):
        return None
    return f"top-k ids {list(got)[:5]}.. differ from {list(expected)[:5]}.."


def check_frame(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """Exact frame equality after the oracle's normalisation."""
    try:
        pd.testing.assert_frame_equal(actual, expected, check_exact=True, check_dtype=False)
    except AssertionError as e:
        return str(e).splitlines()[0][:200]
    return None


def check_equal(actual, expected, what: str) -> str | None:
    return None if actual == expected else f"{what}: got {actual!r}, expected {expected!r}"


def check_close(actual: float, expected: float, what: str, rel: float = 1e-9) -> str | None:
    if abs(actual - expected) <= rel * max(1.0, abs(expected)):
        return None
    return f"{what}: got {actual!r}, expected {expected!r}"


def check_disjoint(got: set, banned: set, what: str) -> str | None:
    bad = got & banned
    return f"{what}: {sorted(bad)[:5]}" if bad else None


CHECKS = {
    "topk": check_topk,
    "frame": check_frame,
    "equal": check_equal,
    "close": check_close,
    "disjoint": check_disjoint,
}


def _perturb_frame(df: pd.DataFrame) -> pd.DataFrame:
    if len(df) == 0:
        return df.reindex([0])
    out = df.copy()
    col = out.columns[-1]
    v = out.at[0, col]
    out.at[0, col] = (v + 1) if isinstance(v, (int, float, np.number)) else f"{v}~"
    return out


# One wrong expected answer per check kind, built from a real call's args.
PERTURB = {
    "topk": lambda got, exp, score_of: (got, [*exp[:-1], -1], score_of),
    "frame": lambda actual, expected: (actual, _perturb_frame(expected)),
    "equal": lambda actual, expected, what: (actual, expected + 1, what),
    "close": lambda actual, expected, what: (actual, expected * 1.01 + 1.0, what),
    "disjoint": lambda got, banned, what: (got, banned | set(list(got)[:1]), what),
}


class Checker:
    """Runs checks and counts failures; keeps the first few messages for
    the log and the first real arguments of every (kind, site) pair for
    :meth:`self_check`."""

    def __init__(self):
        self.failed = 0
        self.messages: list[str] = []
        self.samples: dict[tuple[str, str], tuple] = {}

    def __call__(self, site: str, kind: str, *args) -> bool:
        self.samples.setdefault((kind, site), args)
        message = CHECKS[kind](*args)
        if message is None:
            return True
        self.failed += 1
        if len(self.messages) < 10:
            self.messages.append(f"{site}: {message}")
        return False

    def self_check(self) -> list[str]:
        """Feed one perturbed expected answer into each check this run
        used; returns the sites whose check did NOT report it as an error
        (empty means every check can fail)."""
        missed = []
        for (kind, site), args in self.samples.items():
            probe = Checker()
            if probe(site, kind, *PERTURB[kind](*args)):
                missed.append(f"{kind}@{site}")
        return missed
