"""Persist bookkeeping (ADVICE round 1: persisted frames leaked).

Operators that persist() intermediate frames register them here
instead of calling persist() bare, tagged with an *owner* scope:
link.lsh_candidates and link.link_surfaces (``link``); every bucketed
near-dup path and index builder in similarity (``<modality>_dedup``,
``_incr`` and ``_index`` for minhash/simhash/emb; the jaccard verify
pins under its caller's owner); similarity.build_ivf_index
(``ivf_index``); streaming.process_batch (``stream_batch``). Release
happens

- at operator ENTRY: each op calls ``unpin_all(owner=<itself>)`` to
  release ITS OWN previous invocation's pins (safe because by the time
  the op runs again, the previous invocation's result has been
  materialized by its action; scoping means a nested call — e.g.
  link.run inside a pipeline stage — never releases its caller's
  still-needed pins), and
- in pipeline.run after each stage write via ``mark()`` before the
  stage's compute + ``release_new(snapshot)`` after the write: only
  pins CREATED DURING that stage are released (the stage output is
  parquet-backed, so those upstreams are done). A bare ``unpin_all()``
  here would also release pins owned by unrelated, not-yet-materialized
  operators in the same session (ADVICE round 2), silently downgrading
  their one-pass guarantee to recompute-per-consumer.

This bounds cached-block accumulation in a long-lived session to one
invocation per operator instead of growing without bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# (seq, owner, frame). Pins are keyed by a monotonic sequence number,
# NOT object identity: id(df) can be reused after a released pin is
# garbage-collected, which would let a frame pinned mid-stage wrongly
# survive the post-stage release_new (ADVICE round 3). Sequence numbers
# are never reused, so the since-mark comparison cannot alias.
_PINNED: list[tuple[int, str, DataFrame]] = []
_next_seq = 1


def pin(df: DataFrame, owner: str = "default") -> DataFrame:
    """persist() + register under ``owner`` for later release."""
    global _next_seq
    df = df.persist()
    _PINNED.append((_next_seq, owner, df))
    _next_seq += 1
    return df


def mark() -> int:
    """Snapshot of the pin sequence: every pin created after this call
    gets a sequence number >= the returned value."""
    return _next_seq


def release_new(snapshot: int) -> int:
    """Unpersist every pin registered since ``snapshot`` (the scoped
    post-stage release: pins that predate the stage stay pinned)."""
    n = 0
    keep = []
    while _PINNED:
        seq, own, df = _PINNED.pop()
        if seq < snapshot:
            keep.append((seq, own, df))
            continue
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    _PINNED.extend(reversed(keep))
    return n


def unpin_all(owner: str | None = None) -> int:
    """Unpersist registered frames (all, or just ``owner``'s); returns
    how many were released."""
    n = 0
    keep = []
    while _PINNED:
        seq, own, df = _PINNED.pop()
        if owner is not None and own != owner:
            keep.append((seq, own, df))
            continue
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    _PINNED.extend(reversed(keep))
    return n
