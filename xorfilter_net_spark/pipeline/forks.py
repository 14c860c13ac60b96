"""Conversation fork detection — shared-prefix divergence in transcripts.

Agent and chat logs routinely contain FORKS: the same conversation
re-ingested after a retry, a user regenerating a response, or an agent
branching its plan — several conv_ids that share an identical turn
prefix and then diverge. Forks are poison for training (near-identical
contexts with different continuations teach contradictions) and for
eval hygiene (a fork of a train conversation landing in eval is a
leak). This operator finds every fork point: a (depth, prefix) shared
by >= 2 conversations whose next turns differ.

Method, fully relational:
1. per turn, a 32-hex fingerprint ``md5(md5(role) || md5(text))`` —
   each field hashed to a fixed width first, so no separator inside a
   field can move a field boundary (``('a|b', 'c')`` and ``('a', 'b|c')``
   differ) — map-only codegen; RAW TEXT NEVER SHUFFLES after this point;
2. one conv_id-keyed aggregate assembles each conversation's ordered
   fingerprint chain (state = the conversation's own turns, the same
   bound as conversation assembly);
3. each conversation emits its first ``max_depth`` prefixes as
   ``(depth, md5(fp[1..k]), continuation)`` rows where continuation is
   the (k+1)-th fingerprint or the end sentinel — a bounded fan-out of
   <= max_depth rows per conversation;
4. one (depth, prefix) aggregate counts conversations and DISTINCT
   continuations; a fork point is ``n_convs >= 2 AND n_continuations
   >= 2`` (ending counts as a continuation: a conversation that stops
   where another goes on IS a divergence).

Scale shape: two exchanges (conv_id, then the prefix key), both
map-side combined, both carrying fixed-width digests — at 10^12 turns
the wire cost is ~48 bytes/turn-prefix, independent of text size.
A conv_id-bucketed table removes the first exchange entirely.

No reference counterpart; mandated training-pipeline adjacency.
Value-exact DuckDB oracle replays the identical program
(fork_oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END = "<end>"


def fork_points(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    max_depth: int = 8,
) -> DataFrame:
    """(depth, prefix_key, n_convs, n_continuations) for every prefix
    shared by >= 2 conversations with >= 2 distinct continuations."""
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1, got {max_depth}")
    # both fields null-coalesced BEFORE hashing: md5 of NULL is NULL on
    # both engines — coalescing on both sides keeps the two programs
    # identical on malformed rows
    fp = F.md5(
        F.concat(
            F.md5(F.coalesce(F.col(role_col).cast("string"), F.lit(""))),
            F.md5(F.coalesce(F.col(text_col), F.lit(""))),
        )
    )
    chains = (
        turns.select(
            F.col(conv_col).alias("conv_id"),
            F.col(idx_col).alias("idx"),
            fp.alias("fp"),
        )
        .groupBy("conv_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "fp"))),
                lambda s: s["fp"],
            ).alias("fps")
        )
    )
    k = F.col("k")
    prefixes = chains.select(
        F.explode(
            F.sequence(F.lit(1), F.least(F.size("fps"), F.lit(max_depth)))
        ).alias("k"),
        F.col("fps"),
    ).select(
        k.alias("depth"),
        F.md5(F.array_join(F.slice("fps", 1, k), "|")).alias("prefix_key"),
        # try_element_at, not element_at: the last prefix has no (k+1)-th
        # element and ANSI mode makes plain element_at a hard error
        F.coalesce(F.try_element_at("fps", k + 1), F.lit(END)).alias("cont"),
    )
    return (
        prefixes.groupBy("depth", "prefix_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_convs"),
            F.countDistinct("cont").cast("long").alias("n_continuations"),
        )
        .filter((F.col("n_convs") >= 2) & (F.col("n_continuations") >= 2))
        .select(
            F.col("depth").cast("int").alias("depth"),
            "prefix_key",
            "n_convs",
            "n_continuations",
        )
    )


def fork_oracle_sql(src: str = "transcripts", max_depth: int = 8) -> str:
    """DuckDB replay of the identical fingerprint-chain program, as a
    SELECT over ``src`` (caller prefixes transcript CTEs)."""
    # the chain orders by (turn_idx NULLS FIRST, fp) — the same total
    # order Spark's array_sort(struct(idx, fp)) applies, so duplicate
    # turn_idx (malformed but reachable input) yields the identical
    # deterministic chain on both engines
    return f"""
    select depth, prefix_key,
           cast(count(*) as bigint) as n_convs,
           cast(count(distinct cont) as bigint) as n_continuations
    from (
        select cast(k as int) as depth,
               md5(array_to_string(fps[1:k], '|')) as prefix_key,
               coalesce(fps[k + 1], '{END}') as cont
        from (
            select conv_id,
                   list(fp order by turn_idx nulls first, fp) as fps
            from (
                select conv_id, turn_idx,
                       md5(md5(coalesce(role, '')) ||
                           md5(coalesce(text, ''))) as fp
                from {src})
            group by conv_id
        ), unnest(range(1, least(len(fps), {max_depth}) + 1)) as u(k)
    )
    group by depth, prefix_key
    having count(*) >= 2 and count(distinct cont) >= 2
    """
