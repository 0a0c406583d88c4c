"""Generate the r13 REAL skewed fixture (VERDICT r12 #5) under /tmp.

The synthetic ladders of docs/SCALE.md grew hubs/hot-terms
programmatically inside one query; this writes actual parquet at 4x the
bench scale (sf0.1) with three planted pathologies, so the guard entries
can be timed against real files end to end:

  events.parquet   400k rows = 4 copies of sf0.1, disjoint user spaces,
                   EXCEPT event_id%20==0 (5% of all rows) reassigned to
                   ONE hub user 999999 -> a hub holding 20k events.
  documents.parquet 20k docs = 4 copies of sf0.1; doc_id%10==0 (~10%)
                   get a shared 24-token boilerplate tail (hot shingles,
                   df ~2k); doc_id%97==3 (~1%) become verbatim copies of
                   doc 7's text (a ~205-doc fat near-dup cluster; with
                   the 4x replication, exact-dup groups reach 820 docs).

Everything is a deterministic transform of the driver testdata — no RNG,
rebuildable bit-identically. Measured rungs live in docs/SCALE.md
("Real-skew fixture rungs (r13)"), taken with
`python -m tools.ladder <entry> --base /tmp/skewfix_r13`.

Usage: python tools/make_skew_fixture.py [out_dir]   (default /tmp/skewfix_r13)
"""

import sys

import duckdb

SRC = "/root/testdata/sf0.1"

BOILER = (
    " the quick brown fox jumps over the lazy dog while curious onlookers"
    " gather near the old stone bridge waiting for the evening train to"
    " arrive"
)


def main(out_dir: str = "/tmp/skewfix_r13") -> None:
    import os

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql(f"""
    COPY (
      SELECT (c.c * 100000 + event_id)::BIGINT AS event_id,
             ts,
             CASE WHEN event_id % 20 = 0 THEN 999999
                  ELSE (user_id + c.c * 10000) END::BIGINT AS user_id,
             event_type, value, props
      FROM '{SRC}/events.parquet', (SELECT unnest([0,1,2,3]) AS c) c
    ) TO '{out_dir}/events.parquet' (FORMAT PARQUET)
    """)
    con.sql(f"""
    COPY (
      WITH base AS (
        SELECT (c.c * 10000 + doc_id)::BIGINT AS doc_id,
               text, lang, source, c.c AS c
        FROM '{SRC}/documents.parquet', (SELECT unnest([0,1,2,3]) AS c) c
      ),
      anchor AS (SELECT text AS fat_text FROM '{SRC}/documents.parquet'
                 WHERE doc_id = 7),
      rewritten AS (
        SELECT b.doc_id,
               CASE WHEN b.doc_id % 97 = 3 THEN a.fat_text
                    WHEN b.doc_id % 10 = 0 THEN b.text || '{BOILER}'
                    ELSE b.text END AS text,
               b.lang, b.source
        FROM base b, anchor a
      )
      SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars
      FROM rewritten
    ) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)
    """)
    print("events:", con.sql(
        f"SELECT count(*), count(DISTINCT user_id) FROM '{out_dir}/events.parquet'"
    ).fetchall())
    print("docs:", con.sql(
        f"SELECT count(*) FROM '{out_dir}/documents.parquet'"
    ).fetchall())

def make_hub1x(out_dir: str = "/tmp/skewfix_hub1x") -> None:
    """The LONE-HUB fixture (no replication): sf0.1 events in place with
    5% of rows reassigned to one hub user. Max degree 1500/1500 nodes,
    median 252 — the tail-skew shape the 4x fixture turned out NOT to be.
    Used to prove the triangle family's degree-ordered orientation is
    hub-robust on real files (docs/SCALE.md: 6.1 s, faster than base)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql(f"""
    COPY (
      SELECT event_id, ts,
             CASE WHEN event_id % 20 = 0 THEN 999999
                  ELSE user_id END::BIGINT AS user_id,
             event_type, value, props
      FROM '{SRC}/events.parquet'
    ) TO '{out_dir}/events.parquet' (FORMAT PARQUET)
    """)


if __name__ == "__main__":
    main(*sys.argv[1:2])
