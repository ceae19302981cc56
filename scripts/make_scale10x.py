"""Generate a deterministic ~10x replica of sf0.1 for the scaling study
(SCALE.md "measured slopes" section). Output: .scale10x/ at the repo
root (gitignored — ~50 MB, regenerate with `python scripts/make_scale10x.py`).

Replication is shaped so each workload's 10x is MEANINGFUL, not a
degenerate blow-up:

- events: 10 time-shifted copies (whole-month shifts, event_id offset)
  — a tick stream growing in TIME: same instrument universe, 10x the
  candle windows. Pair-correlation work should scale ~linearly in
  windows.
- documents: 10 copies; replica i suffixes EVERY word with a
  replica-specific letter, so cross-replica shingle overlap is exactly
  zero while within-replica near-dup structure is untouched — the
  corpus dup RATE stays ~constant. (Naive 10x text duplication — or a
  word rotation, which preserves nearly all n-gram adjacencies —
  multiplies near-dup candidate pairs ~100x and measures a fabricated
  problem: first measured that way, MinHash dedup came out 48x at 10x;
  with constant dup rate it was ~linear.)
- embeddings: 10 copies with a small deterministic per-replica
  perturbation (rotate vector components by i and add i*0.01) — keeps
  within-replica neighbor structure, decorrelates across replicas.

All other tables are copied as-is so any query can run against the dir.
"""

from __future__ import annotations

import os
import shutil

import duckdb

SRC = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
N_REP = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "10"))
DST = os.environ.get("SPARK_GRAFT_SCALE_DST") or os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    f".scale{N_REP}x")
ID_OFF = 100_000_000


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW reps AS SELECT unnest(range({N_REP})) AS i")

    # events: shift each replica forward by i whole months of data
    con.execute(f"""
    COPY (
      SELECT e.event_id + r.i * {ID_OFF} AS event_id,
             e.ts + to_microseconds(r.i * span.us) AS ts,
             e.user_id, e.event_type, e.value, e.props
      FROM read_parquet('{SRC}/events.parquet') e
      CROSS JOIN (SELECT epoch_us(max(ts) - min(ts)) + 3600000000 AS us
                  FROM read_parquet('{SRC}/events.parquet')) span
      CROSS JOIN reps r
      ORDER BY ts
    ) TO '{DST}/events.parquet' (FORMAT PARQUET)
    """)

    # documents: replica i > 0 suffixes every word with a CASE-STABLE
    # marker ('x' + the replica number) so cross-replica shingle sets
    # are disjoint (dup rate stays constant). Round-12 fix: the old
    # chr(96+i) suffix CASE-FOLDS into collisions past ~96 replicas
    # (273 fold groups in 1..999 — À..Þ lowercase to à..þ, which are
    # themselves other replicas' suffixes; Greek/Cyrillic case pairs
    # too), and the engine's tokenizer lowercases — so at REPS=1000
    # replica groups silently merged in shingle space (measured:
    # max_df 25 -> 75, candidate pairs x16.5 instead of x10, and a
    # shingle-join verify stage exhausted the box's disk).
    # Digits don't case-fold in any script. Round-13 (ADVICE r12):
    # replica 0 is suffixed too ('x0') — with replica 0 left as raw
    # source text, a source token that already ends in x<digits>
    # (e.g. 'foox3') equals replica 3's suffixed 'foo', so replica 0
    # could still alias suffixed replicas; with every token carrying
    # exactly one marker, 'foox3' || 'x0' can never equal
    # 'foo' || 'x3' (distinct suffix position), making cross-replica
    # disjointness absolute rather than probable.
    con.execute(f"""
    COPY (
      SELECT d.doc_id + r.i * {ID_OFF} AS doc_id,
             array_to_string(
               list_transform(words,
                 w -> w || 'x' || CAST(r.i AS VARCHAR)), ' ') AS text,
             d.lang, d.source,
             CAST(length(array_to_string(
               list_transform(words,
                 w -> w || 'x' || CAST(r.i AS VARCHAR)), ' '))
                  AS BIGINT) AS n_chars
      FROM (SELECT *, string_split(text, ' ') AS words
            FROM read_parquet('{SRC}/documents.parquet')) d
      CROSS JOIN reps r
    ) TO '{DST}/documents.parquet'
      (FORMAT PARQUET, ROW_GROUP_SIZE 4096)
    """)
    # ROW_GROUP_SIZE 4096: DuckDB's default row-group size (122,880
    # rows) puts the whole 10x documents replica (50k rows) in ONE row
    # group = ONE Spark task regardless of maxPartitionBytes — the 10x
    # decade then measures a single-task file, not the engine
    # (SCALE.md diagnosed this via the openCostInBytes falsification
    # test). 4096-row groups give the 10x file ~13 splittable units.

    # embeddings: rotate components by i and nudge by i*0.01
    con.execute(f"""
    COPY (
      SELECT e.vec_id + r.i * {ID_OFF} AS vec_id,
             CAST(list_concat(emb[(r.i % len(emb)) + 1:],
                              list_transform(emb[1:(r.i % len(emb))],
                                             x -> x + r.i * 0.01))
                  AS FLOAT[]) AS embedding,
             e.label
      FROM (SELECT vec_id, embedding AS emb, label
            FROM read_parquet('{SRC}/embeddings.parquet')) e
      CROSS JOIN reps r
    ) TO '{DST}/embeddings.parquet' (FORMAT PARQUET)
    """)

    # facts: lineitem/orders replicate with an orderkey offset so the
    # fact side grows N x while every dimension stays fixed — the
    # realistic warehouse shape (dims grow far slower than facts) and
    # the one that stresses fact-side shuffles, wedge fanout (brand
    # triangles: same brand universe, N x the orders), and the
    # per-group sort of the weighted median.
    con.execute(f"""
    COPY (
      SELECT l.* REPLACE (l.l_orderkey + r.i * {ID_OFF} AS l_orderkey)
      FROM read_parquet('{SRC}/lineitem.parquet') l CROSS JOIN reps r
    ) TO '{DST}/lineitem.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (
      SELECT o.* REPLACE (o.o_orderkey + r.i * {ID_OFF} AS o_orderkey)
      FROM read_parquet('{SRC}/orders.parquet') o CROSS JOIN reps r
    ) TO '{DST}/orders.parquet' (FORMAT PARQUET)
    """)

    for t in ["region", "nation", "customer", "supplier", "part"]:
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")

    for t in ["events", "documents", "embeddings", "lineitem", "orders"]:
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{DST}/{t}.parquet')"
        ).fetchone()[0]
        print(t, n)


if __name__ == "__main__":
    main()
