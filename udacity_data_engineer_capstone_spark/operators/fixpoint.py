"""The convergence driver shared by the graph and clustering loops.

An iterative operator here is a round kernel ``step`` (one Pregel-style
superstep: joins and aggregates over the current state, no action) plus,
when it runs to convergence rather than for a fixed round count, a
``probe``: the round's one driver action, returning a small value. The
driver checkpoints each round's state lazily, so the probe both
materializes the round and reads its witness (no separate count), and
the next round's plan starts from the checkpoint instead of the whole
lineage. Under AQE a lazy checkpoint still runs its plan's shuffle and
broadcast stages when it is created; only the final stage waits for the
probe.

Fixed-round loops (PageRank, PPR, LPA) need no driver: their rounds
chain into one lazy plan that the caller's own action runs.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _checkpoint(state):
    if isinstance(state, tuple):
        return tuple(df.localCheckpoint(eager=False) for df in state)
    return state.localCheckpoint(eager=False)


def converge(
    state,
    step,
    probe,
    max_rounds: int,
    *,
    name: str,
    stop=operator.eq,
    capped_ok: bool = False,
):
    """Run ``step`` until ``stop(prev, cur)`` holds for consecutive probe
    values; return ``(state, rounds, cur)``.

    ``state`` is a frame or a tuple of frames; each round's frames are
    ``localCheckpoint(eager=False)``ed and ``probe(state)`` is the round's
    one action. ``stop`` is also called after round 1, with ``prev=None``.
    At ``max_rounds`` without a stop the loop raises ``RuntimeError``,
    unless ``capped_ok`` (a query whose contract is "capped by design")."""
    prev = None
    for rounds in range(1, max_rounds + 1):
        state = _checkpoint(step(state))
        cur = probe(state)
        if stop(prev, cur):
            return state, rounds, cur
        prev = cur
    if capped_ok:
        return state, max_rounds, cur
    raise RuntimeError(f"{name} did not converge in {max_rounds} rounds")


def _state_signature(df: DataFrame, cols: tuple[str, ...]) -> tuple[int, int]:
    """Exact-fixpoint probe: (row count, XOR fold of the rows' 64-bit
    ``xxhash64`` over ``cols``). Equal consecutive signatures mean the
    state is unchanged (collision odds ~2^-64), so every later round is
    the identity. One scalar aggregate over the node-sized state."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        # XOR fold: order-free and no ANSI overflow
        F.bit_xor(F.xxhash64(*cols)).alias("sig"),
    ).collect()[0]
    return (r["n"], r["sig"])
