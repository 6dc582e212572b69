"""Staged DuckDB oracles for gates whose single-statement oracle SQL
exceeds DuckDB's capacity at sweep scale (sf10, 60M lineitem).

The DRIVER contract is untouched: ``oracle_sql()`` still publishes one
static ANSI-SQL string per gate, and the driver (and this harness by
default) runs exactly that at sf0.01. A staged oracle is the SAME
computation restructured as a sequence of ``CREATE TEMP TABLE``
statements so each unrolled iteration materializes, frees its inputs,
and never holds the whole CTE chain's intermediates at once —
``check_parity.py --staged`` (or ``PARITY_STAGED=1``) switches to it
for the gates registered here.

``graph_pagerank``: the unrolled 3-iteration CTE chain keeps every
edge-sized contribution table live simultaneously (>72 GB temp at
sf10 — NOTES_r4, the one 107/108 miss). Staged: edges/deg
materialize once, then per iteration one contribution-sum table and
one rank table, previous iteration dropped before the next starts —
peak is O(edges) once plus O(nodes) twice. Arithmetic is the identical
integer fixed-point algebra (scale 1e12, damping 85/100, floor
division), so the hash must match bit-for-bit.
"""

from __future__ import annotations

import os

import pandas as pd

#: this checkout, put first on sys.path by the oracles that import the engine
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PAGERANK_SETUP = [
    """
    CREATE OR REPLACE TEMP TABLE pr_edges AS
    WITH pairs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    )
    SELECT 'c:' || c AS src, 's:' || s AS dst FROM pairs
    UNION ALL
    SELECT 's:' || s AS src, 'c:' || c AS dst FROM pairs
    """,
    """
    CREATE OR REPLACE TEMP TABLE pr_deg AS
    SELECT src AS node, count(*) AS d FROM pr_edges GROUP BY src
    """,
]


def pagerank_staged(con) -> pd.DataFrame:
    for stmt in _PAGERANK_SETUP:
        con.execute(stmt)
    n = con.execute("SELECT count(*) FROM pr_deg").fetchone()[0]
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE pr_r AS "
        f"SELECT node, 1000000000000 // {n} AS r FROM pr_deg"
    )
    for _ in range(3):
        # one edges⋈ranks join + dst-grouped sum of per-edge floor-div
        # contributions — identical to the static oracle's c{i}/s{i}
        # pair (sum of r//d per dst), materialized then inputs freed
        con.execute(
            """
            CREATE OR REPLACE TEMP TABLE pr_s AS
            SELECT e.dst AS node, sum(r.r // d.d) AS s
            FROM pr_edges e
            JOIN pr_r r ON e.src = r.node
            JOIN pr_deg d ON e.src = d.node
            GROUP BY e.dst
            """
        )
        con.execute(
            f"""
            CREATE OR REPLACE TEMP TABLE pr_r_next AS
            SELECT deg.node,
                   CAST(15000000000000 // (100 * {n})
                        + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
            FROM pr_deg deg LEFT JOIN pr_s s ON deg.node = s.node
            """
        )
        con.execute("DROP TABLE pr_s")
        con.execute("DROP TABLE pr_r")
        con.execute("ALTER TABLE pr_r_next RENAME TO pr_r")
    out = con.execute("SELECT node, r AS rank FROM pr_r").fetchdf()
    con.execute("DROP TABLE pr_r")
    con.execute("DROP TABLE pr_deg")
    con.execute("DROP TABLE pr_edges")
    return out


def pretrain_staged(con) -> pd.DataFrame:
    """pipeline_pretrain_corpus: the static oracle embeds four
    already-verified sub-oracles (quality filter, MinHash-LSH pairs,
    decontamination, temperature mix) as subqueries of ONE statement —
    at sf10 DuckDB holds all four pipelines' intermediates at once
    (>110 GB RSS unspilled; >70 GB temp spilled). Staged: each
    sub-oracle materializes its doc_id set to a temp table (tiny — id
    lists) in its own statement, so peak memory is the worst SINGLE
    sub-oracle, then the final join runs over the id sets. The final
    SELECT is textually the static oracle's with subqueries swapped
    for the temp tables — same rows, same hash."""
    import sys

    sys.path.insert(0, _REPO)
    from ftm_lakehouse_spark.queries.inventory import QUERIES

    quality = QUERIES["text_quality_score"][1]
    decon = QUERIES["text_decontaminate"][1]
    mix = QUERIES["sample_temperature_mix"][1]
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE pt_q AS SELECT doc_id FROM ({quality}) "
        "WHERE stopword_ratio >= 0.02 AND digit_ratio <= 0.3"
    )
    # near-dup drop set via the value-collapsed MinHash tables (the
    # static pairs subquery is the sf10-infeasible one — see
    # minhash_staged); only the DISTINCT greater-member set is kept
    _minhash_value_tables(con, "pmh")
    con.execute(
        "CREATE OR REPLACE TEMP TABLE pt_pairs AS SELECT DISTINCT b FROM ("
        + _MINHASH_EXPAND.format(p="pmh")
        + ")"
    )
    for t in ("pmh_docs", "pmh_sh", "pmh_sig", "pmh_sig2", "pmh_band", "pmh_vj"):
        con.execute(f"DROP TABLE {t}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE pt_decon AS SELECT doc_id FROM ({decon})")
    con.execute(f"CREATE OR REPLACE TEMP TABLE pt_mix AS SELECT doc_id FROM ({mix})")
    out = con.execute(
        """
    WITH keepers AS (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        FROM documents
    )
    SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source,
           md5(regexp_replace(regexp_replace(regexp_replace(d.text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
               '\\+?[0-9][0-9()\\[\\]. -]{6,}[0-9]', '<PHONE>', 'g')) AS text_hash,
           len(list_filter(string_split_regex(lower(d.text), '[^a-z0-9]+'),
               x -> x <> '')) AS n_tokens
    FROM documents d
    JOIN pt_q q USING (doc_id)
    JOIN (SELECT doc_id FROM keepers WHERE doc_id = keeper) k USING (doc_id)
    JOIN pt_decon dc USING (doc_id)
    JOIN pt_mix mx USING (doc_id)
    WHERE d.doc_id NOT IN (SELECT b FROM pt_pairs)
    """
    ).fetchdf()
    for t in ("pt_q", "pt_pairs", "pt_decon", "pt_mix"):
        con.execute(f"DROP TABLE {t}")
    return out


def _minhash_value_tables(con, prefix: str = "mh") -> None:
    """Build the value-collapsed MinHash-LSH candidate tables.

    The static oracle carries BOTH documents' full shingle lists
    through the band-collision join — at sf10 the 100×-replicated
    corpus makes that ~25M candidate pairs × two ~10 KB lists (≈0.5 TB
    of intermediate), unrunnable in any memory/spill budget. But
    signatures are a pure function of the text VALUE, so collision
    structure lives at value grain: collapse to distinct texts first
    (the engine's own round-4 pre-collapse, dedupe.py), do all
    signature/band/jaccard work on ~|distinct| rows, and expand to doc
    pairs at the very end carrying only (a, b, jaccard). The output
    SET is identical: doc-level band keys equal value-level band keys,
    same-value docs always collide (equal signatures) with jaccard
    exactly 1.0, and cross-value jaccard is the same two lists the
    static oracle intersects."""
    num_hashes, bands = 16, 4
    rows = num_hashes // bands
    toks = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    shingles = (
        "list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),"
        " i -> array_to_string(t[i:i+2], ' ')))"
    )
    mh = ", ".join(
        f"list_min(list_transform(shingles, s -> md5('{i}:' || s))) AS h{i}"
        for i in range(num_hashes)
    )
    band_keys = ", ".join(
        "md5(" + " || '|' || ".join(f"h{b * rows + r}" for r in range(rows)) + f") AS k{b}"
        for b in range(bands)
    )
    band_union = "\n        UNION ALL\n".join(
        f"SELECT tv, {b} AS band, k{b} AS key FROM {prefix}_sig" for b in range(bands)
    )
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE {prefix}_docs AS "
        "SELECT doc_id, md5(text) AS tv FROM documents"
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE {prefix}_sh AS
        SELECT tv, {shingles} AS shingles FROM (
            SELECT md5(min(text)) AS tv, {toks.replace('text', 'min(text)')} AS t
            FROM documents GROUP BY md5(text)
        ) WHERE len(t) >= 3"""
    )
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE {prefix}_sig AS "
        f"SELECT tv, {mh} FROM (SELECT tv, shingles FROM {prefix}_sh) "
    )
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE {prefix}_sig2 AS "
        f"SELECT tv, {band_keys} FROM {prefix}_sig"
    )
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE {prefix}_band AS {band_union.replace(prefix + '_sig', prefix + '_sig2')}"
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE {prefix}_vj AS
        SELECT va, vb,
               round(CAST(len(list_intersect(l.shingles, r.shingles)) AS DOUBLE)
                     / (len(l.shingles) + len(r.shingles)
                        - len(list_intersect(l.shingles, r.shingles))), 6) AS jaccard
        FROM (
            SELECT DISTINCT l.tv AS va, r.tv AS vb
            FROM {prefix}_band l JOIN {prefix}_band r
              ON l.band = r.band AND l.key = r.key AND l.tv < r.tv
        ) c
        JOIN {prefix}_sh l ON l.tv = c.va
        JOIN {prefix}_sh r ON r.tv = c.vb
        WHERE round(CAST(len(list_intersect(l.shingles, r.shingles)) AS DOUBLE)
                    / (len(l.shingles) + len(r.shingles)
                       - len(list_intersect(l.shingles, r.shingles))), 6) >= 0.5"""
    )


def _maybe_sample(body: str, sample_mod: int | None) -> str:
    """Wrap a final (a, b, ...) doc-grain select with the deterministic
    integer pair-hash sample (tools/sampled_rowhash.py) so
    output-size-bound scales materialize only ~1/sample_mod of the
    pairs — row-LEVEL verification where fetchdf() of the full output
    is impossible in any engine."""
    if not sample_mod:
        return body
    return f"""
    SELECT * FROM ({body})
    WHERE ((a * 2654435761) % 999999937 * 31 + b) % 999999937
          % {int(sample_mod)} = 0
    """


_MINHASH_EXPAND = """
    SELECT l.doc_id AS a, r.doc_id AS b, CAST(1.0 AS DOUBLE) AS jaccard
    FROM {p}_docs l JOIN {p}_docs r
      ON l.tv = r.tv AND l.doc_id < r.doc_id
    WHERE l.tv IN (SELECT tv FROM {p}_sh)
    UNION ALL
    SELECT least(da.doc_id, db.doc_id) AS a,
           greatest(da.doc_id, db.doc_id) AS b, j.jaccard
    FROM {p}_vj j
    JOIN {p}_docs da ON da.tv = j.va
    JOIN {p}_docs db ON db.tv = j.vb
"""


def minhash_staged(con, sample_mod: int | None = None) -> pd.DataFrame:
    _minhash_value_tables(con, "mh")
    out = con.execute(
        _maybe_sample(_MINHASH_EXPAND.format(p="mh"), sample_mod)
    ).fetchdf()
    for t in ("mh_docs", "mh_sh", "mh_sig", "mh_sig2", "mh_band", "mh_vj"):
        con.execute(f"DROP TABLE {t}")
    return out


def cluster_staged(con) -> pd.DataFrame:
    """dedup_cluster_canonical: the static oracle closes a recursive
    CTE over the DOC-level near-dup graph — at sf10 the 100× copy
    cliques make the closure Σ|component|² rows on top of the already
    infeasible pair SQL. Identical-text docs are interchangeable in
    the graph (same signatures → same collisions), so components are
    computed at VALUE level (a ~|distinct|-node recursive closure) and
    expanded: a value participates iff it has a cross-value edge or
    ≥2 copies (its copies form a clique); the component label is the
    min doc_id over the component's values — exactly what the doc-level
    closure's min(label) converges to."""
    _minhash_value_tables(con, "cc")
    con.execute(
        """CREATE OR REPLACE TEMP TABLE cc_part AS
        SELECT tv, min(doc_id) AS mind, count(*) AS n FROM cc_docs
        WHERE tv IN (SELECT tv FROM cc_sh) GROUP BY tv"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE cc_nodes AS
        SELECT tv, mind FROM cc_part WHERE n >= 2
        UNION
        SELECT tv, mind FROM cc_part
        WHERE tv IN (SELECT va FROM cc_vj UNION SELECT vb FROM cc_vj)"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE cc_ev AS
        SELECT va AS u, vb AS v FROM cc_vj
        UNION ALL SELECT vb AS u, va AS v FROM cc_vj"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE cc_clusters AS
        WITH RECURSIVE reach AS (
            SELECT tv AS node, mind AS label FROM cc_nodes
            UNION
            SELECT e.v AS node, r.label FROM reach r JOIN cc_ev e ON e.u = r.node
        )
        SELECT node AS tv, min(label) AS cluster FROM reach GROUP BY node"""
    )
    out = con.execute(
        """SELECT d.doc_id AS doc, c.cluster AS cluster
        FROM cc_docs d JOIN cc_clusters c ON d.tv = c.tv"""
    ).fetchdf()
    for t in (
        "cc_docs", "cc_sh", "cc_sig", "cc_sig2", "cc_band", "cc_vj",
        "cc_part", "cc_nodes", "cc_ev", "cc_clusters",
    ):
        con.execute(f"DROP TABLE {t}")
    return out


def curation_staged(con) -> pd.DataFrame:
    """pipeline_embedding_curation: the static oracle's within-cell
    pair join evaluates ~2.5B row pairs at sf10 (100× copy groups
    squared) — streamable but half-hour-slow. Cell assignment, cosine,
    and quantization are pure functions of the vector VALUE, so the
    staged variant does all pair work at value grain (~|distinct|²
    within cells) and resolves the SemDeDup drop rule per row
    algebraically: row r (value v) is dropped iff some row l < r
    shares a cell with cos ≥ t — i.e. iff r > min over {v's own min
    id (cos(v,v)=1) and neighbor values' min ids}. Quantization
    metrics compute once per value and expand to survivors."""
    import sys

    sys.path.insert(0, _REPO)
    from ftm_lakehouse_spark.queries.inventory import _ivf_dists_sql

    dists = _ivf_dists_sql(8, 64, 11)
    cos = (
        "round(list_dot_product(l.v, r.v) / (sqrt(list_dot_product(l.v, l.v))"
        " * sqrt(list_dot_product(r.v, r.v))), 6)"
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE ec_rows AS
        SELECT vec_id, label,
               md5(CAST(CAST(embedding AS DOUBLE[]) AS VARCHAR)) AS vh
        FROM embeddings"""
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE ec_vals AS
        SELECT vh, v, m,
               CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell
        FROM (
            SELECT vh, v, m, [{dists}] AS ds FROM (
                SELECT md5(CAST(v AS VARCHAR)) AS vh, v, min(vec_id) AS m
                FROM (SELECT CAST(embedding AS DOUBLE[]) AS v, vec_id
                      FROM embeddings)
                GROUP BY v
            )
        )"""
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE ec_vj AS
        SELECT l.vh AS va, r.vh AS vb
        FROM ec_vals l JOIN ec_vals r ON l.cell = r.cell AND l.vh < r.vh
        WHERE {cos} >= 0.4"""
    )
    # threshold per value: min id that can evict members (own min id if
    # cos(v,v) is defined, i.e. a nonzero vector; else neighbors' mins)
    con.execute(
        """CREATE OR REPLACE TEMP TABLE ec_thr AS
        SELECT v.vh,
               least(COALESCE(CASE WHEN list_dot_product(v.v, v.v) > 0
                                   THEN v.m END, nb.mn),
                     COALESCE(nb.mn,
                              CASE WHEN list_dot_product(v.v, v.v) > 0
                                   THEN v.m END)) AS thr
        FROM ec_vals v LEFT JOIN (
            SELECT vh, min(m) AS mn FROM (
                SELECT j.va AS vh, v2.m FROM ec_vj j JOIN ec_vals v2 ON v2.vh = j.vb
                UNION ALL
                SELECT j.vb AS vh, v2.m FROM ec_vj j JOIN ec_vals v2 ON v2.vh = j.va
            ) GROUP BY vh
        ) nb ON nb.vh = v.vh"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE ec_quant AS
        SELECT vh, cell, round(scale, 6) AS scale,
               CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
               CAST(list_sum(q) AS BIGINT) AS q_sum
        FROM (
            SELECT vh, cell, scale,
                   list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS q
            FROM (
                SELECT vh, cell, v,
                       greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
                                1e-12) AS scale
                FROM ec_vals
            )
        )"""
    )
    out = con.execute(
        """SELECT r.vec_id, CAST(r.label AS INT) AS label, q.cell,
                  q.scale, q.q_l1, q.q_sum
        FROM ec_rows r
        JOIN ec_thr t ON t.vh = r.vh
        JOIN ec_quant q ON q.vh = r.vh
        WHERE t.thr IS NULL OR r.vec_id <= t.thr"""
    ).fetchdf()
    for t in ("ec_rows", "ec_vals", "ec_vj", "ec_thr", "ec_quant"):
        con.execute(f"DROP TABLE {t}")
    return out


def ngram_jaccard_staged(con, sample_mod: int | None = None) -> pd.DataFrame:
    """dedup_ngram_jaccard: same value-collapse as minhash_staged —
    shingles and the 4-token block key are pure functions of the text
    value, so candidate generation and Jaccard run over distinct
    values (same-value pairs are exactly 1.0) and expand at the end."""
    toks = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    shingles = (
        "list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),"
        " i -> array_to_string(t[i:i+2], ' ')))"
    )
    con.execute(
        "CREATE OR REPLACE TEMP TABLE nj_docs AS "
        "SELECT doc_id, md5(text) AS tv FROM documents"
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE nj_sh AS
        SELECT tv, {shingles} AS sh, md5(array_to_string(t[1:4], ' ')) AS block
        FROM (
            SELECT md5(min(text)) AS tv, {toks.replace('text', 'min(text)')} AS t
            FROM documents GROUP BY md5(text)
        ) WHERE len(t) >= 3"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE nj_vj AS
        SELECT l.tv AS va, r.tv AS vb,
               round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
                     / (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh))), 6)
                   AS jaccard
        FROM nj_sh l JOIN nj_sh r ON l.block = r.block AND l.tv < r.tv
        WHERE round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
                    / (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh))), 6)
              >= 0.3"""
    )
    out = con.execute(_maybe_sample(
        """
        SELECT l.doc_id AS a, r.doc_id AS b, CAST(1.0 AS DOUBLE) AS jaccard
        FROM nj_docs l JOIN nj_docs r ON l.tv = r.tv AND l.doc_id < r.doc_id
        WHERE l.tv IN (SELECT tv FROM nj_sh)
        UNION ALL
        SELECT least(da.doc_id, db.doc_id) AS a,
               greatest(da.doc_id, db.doc_id) AS b, j.jaccard
        FROM nj_vj j
        JOIN nj_docs da ON da.tv = j.va
        JOIN nj_docs db ON db.tv = j.vb
        """, sample_mod
    )).fetchdf()
    for t in ("nj_docs", "nj_sh", "nj_vj"):
        con.execute(f"DROP TABLE {t}")
    return out


def simhash_staged(con, sample_mod: int | None = None) -> pd.DataFrame:
    """dedup_simhash: the static oracle is a deliberate O(n²) hamming
    scan (valid because pigeonhole probing is exhaustive) — 125B pair
    evaluations at sf10. The 48-bit signature is a pure function of
    the text value, so the scan runs over distinct values (~|distinct|²
    / 2 pairs) and expands; same-value pairs have hamming exactly 0.
    Unlike the shingle gates EVERY doc participates (empty token sets
    fold to signature 0), so the same-value expansion is unfiltered.

    ``sample_mod`` (round-6 VERDICT item 3): materialize only the
    deterministic doc-pair sample ``pair_hash(a, b) % sample_mod == 0``
    (the integer LCG-mod-prime hash of tools/sampled_rowhash.py —
    arithmetic-only because md5 string hashing per pair dominated the
    4.28B-row run; exact int64 in both engines) so the
    output-size-bound sf10/sf100 outputs (4.28B+ rows, unreachable by
    pandas in ANY engine) get row-LEVEL verification on ~1/sample_mod
    of the pairs alongside the full aggregate checksums. The filter
    applies at the FINAL doc grain (after value expansion), so it
    exercises the same expansion joins as the full output."""
    con.execute(
        "CREATE OR REPLACE TEMP TABLE sx_docs AS "
        "SELECT doc_id, md5(text) AS tv FROM documents"
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE sx_sig AS
        WITH vals AS (
            SELECT md5(text) AS tv, min(text) AS text FROM documents
            GROUP BY md5(text)
        ), toks AS (
            SELECT tv,
                   unnest(list_distinct(list_filter(
                     string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> ''))) AS tok
            FROM vals
        ), bitv AS (
            SELECT tv, j,
                   CASE WHEN ((strpos('0123456789abcdef',
                                      substr(md5(tok), CAST(j // 4 AS INT) + 1, 1)) - 1)
                              >> (3 - CAST(j % 4 AS INT))) & 1 = 1
                        THEN 1 ELSE -1 END AS vote
            FROM toks, (SELECT range AS j FROM range(48)) bits
        ), votes AS (
            SELECT tv, j, sum(vote) AS v FROM bitv GROUP BY tv, j
        )
        SELECT d.tv,
               coalesce(sum(CASE WHEN v.v > 0
                                 THEN (CAST(1 AS BIGINT) << CAST(v.j AS INT))
                                 ELSE 0 END), 0) AS sh
        FROM vals d LEFT JOIN votes v ON d.tv = v.tv
        GROUP BY d.tv"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE sx_vj AS
        SELECT l.tv AS va, r.tv AS vb,
               CAST(bit_count(xor(l.sh, r.sh)) AS INT) AS hamming
        FROM sx_sig l JOIN sx_sig r ON l.tv < r.tv
        WHERE bit_count(xor(l.sh, r.sh)) <= 3"""
    )
    body = """
        SELECT l.doc_id AS a, r.doc_id AS b, CAST(0 AS INT) AS hamming
        FROM sx_docs l JOIN sx_docs r ON l.tv = r.tv AND l.doc_id < r.doc_id
        UNION ALL
        SELECT least(da.doc_id, db.doc_id) AS a,
               greatest(da.doc_id, db.doc_id) AS b, j.hamming
        FROM sx_vj j
        JOIN sx_docs da ON da.tv = j.va
        JOIN sx_docs db ON db.tv = j.vb
        """
    if sample_mod:
        body = f"""
        SELECT * FROM ({body})
        WHERE ((a * 2654435761) % 999999937 * 31 + b) % 999999937
              % {int(sample_mod)} = 0
        """
    out = con.execute(body).fetchdf()
    for t in ("sx_docs", "sx_sig", "sx_vj"):
        con.execute(f"DROP TABLE {t}")
    return out


def _embedding_value_tables(con, prefix: str) -> None:
    """(vec_id, value-hash) row table + distinct-value table with min
    vec_id — the embedding-side analog of _minhash_value_tables."""
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE {prefix}_rows AS
        SELECT vec_id, md5(CAST(CAST(embedding AS DOUBLE[]) AS VARCHAR)) AS vh
        FROM embeddings"""
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE {prefix}_vals AS
        SELECT md5(CAST(v AS VARCHAR)) AS vh, v, min(vec_id) AS m
        FROM (SELECT CAST(embedding AS DOUBLE[]) AS v, vec_id FROM embeddings)
        GROUP BY v"""
    )


_COS_VV = (
    "round(list_dot_product(l.v, r.v) / (sqrt(list_dot_product(l.v, l.v))"
    " * sqrt(list_dot_product(r.v, r.v))), 6)"
)


def knn_blocked_staged(con) -> pd.DataFrame:
    """sim_knn_blocked: the static oracle cross-joins 20k query rows ×
    200k corpus rows at sf10 (4B cosine evals materialized under a
    window). Both sides are 100× value copies, so: score distinct
    query values × distinct corpus values (~200×2k), keep per query
    value the corpus values whose cos6-rank() ≤ 5 (rank() ties share a
    number, so a cosine level is kept or dropped atomically — dropped
    only when ≥5 docs are strictly ahead), expand each kept value to
    its 5 smallest vec_ids (only those can win the id tiebreak), run
    the exact final window at candidate grain, then broadcast the
    per-query-VALUE answer to every query id sharing the value."""
    import sys

    sys.path.insert(0, _REPO)
    _embedding_value_tables(con, "kb")
    con.execute(
        """CREATE OR REPLACE TEMP TABLE kb_qrows AS
        SELECT vec_id AS query_id,
               md5(CAST(CAST(embedding AS DOUBLE[]) AS VARCHAR)) AS qh
        FROM embeddings WHERE vec_id % 10 = 0"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE kb_qvals AS
        SELECT md5(CAST(v AS VARCHAR)) AS qh, v AS qv
        FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE vec_id % 10 = 0)
        GROUP BY v"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE kb_top5 AS
        SELECT vh, vec_id FROM (
            SELECT r.vh, r.vec_id,
                   row_number() OVER (PARTITION BY r.vh ORDER BY r.vec_id) AS rn
            FROM kb_rows r
        ) WHERE rn <= 5"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE kb_vcand AS
        SELECT qh, vh, cos6 FROM (
            SELECT q.qh, c.vh,
                   round(list_dot_product(c.v, q.qv)
                         / (sqrt(list_dot_product(c.v, c.v))
                            * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos6
            FROM kb_vals c CROSS JOIN kb_qvals q
        ) QUALIFY rank() OVER (PARTITION BY qh ORDER BY cos6 DESC) <= 5"""
    )
    out = con.execute(
        """
        WITH cand AS (
            SELECT v.qh, t.vec_id AS neighbor_id, v.cos6
            FROM kb_vcand v JOIN kb_top5 t ON t.vh = v.vh
        ), ranked AS (
            SELECT qh, neighbor_id, cos6 AS cosine
            FROM cand
            QUALIFY row_number() OVER (
                PARTITION BY qh ORDER BY cos6 DESC, neighbor_id) <= 5
        )
        SELECT q.query_id, r.neighbor_id, r.cosine
        FROM kb_qrows q JOIN ranked r ON r.qh = q.qh
        """
    ).fetchdf()
    for t in ("kb_rows", "kb_vals", "kb_qrows", "kb_qvals", "kb_top5", "kb_vcand"):
        con.execute(f"DROP TABLE {t}")
    return out


def embedding_cosine_staged(con, sample_mod: int | None = None) -> pd.DataFrame:
    """dedup_embedding_cosine: the OR-of-chunks join condition forces a
    40B-pair blockwise scan at sf10. Signature and cosine are value
    functions: candidate + verify at distinct-value grain, expand
    (same-value pairs always share every chunk and round to cosine
    exactly 1.0, excluded only for zero-norm values — mirroring the
    static NULL-cosine exclusion)."""
    import sys

    sys.path.insert(0, _REPO)
    from ftm_lakehouse_spark.queries.inventory import _hyperplane_sig_sql

    sig_terms = _hyperplane_sig_sql(16, 64, 7)
    # blocks/width/mask mirror _embedding_cosine_oracle(max_hamming=2)
    width, mask = 16 // 3, (1 << (16 // 3)) - 1
    share_chunk = " OR ".join(
        f"((l.sig >> {b * width}) & {mask}) = ((r.sig >> {b * width}) & {mask})"
        for b in range(3)
    )
    _embedding_value_tables(con, "ed")
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE ed_sig AS
        SELECT vh, v, m, ({sig_terms}) AS sig FROM ed_vals"""
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE ed_vj AS
        SELECT l.vh AS va, r.vh AS vb, {_COS_VV} AS cosine
        FROM ed_sig l JOIN ed_sig r ON l.vh < r.vh AND ({share_chunk})
        WHERE {_COS_VV} >= 0.4"""
    )
    out = con.execute(_maybe_sample(
        """
        SELECT l.vec_id AS a, r.vec_id AS b, CAST(1.0 AS DOUBLE) AS cosine
        FROM ed_rows l JOIN ed_rows r ON l.vh = r.vh AND l.vec_id < r.vec_id
        WHERE l.vh IN (SELECT vh FROM ed_vals
                       WHERE list_dot_product(v, v) > 0)
        UNION ALL
        SELECT least(da.vec_id, db.vec_id) AS a,
               greatest(da.vec_id, db.vec_id) AS b, j.cosine
        FROM ed_vj j
        JOIN ed_rows da ON da.vh = j.va
        JOIN ed_rows db ON db.vh = j.vb
        """, sample_mod
    )).fetchdf()
    for t in ("ed_rows", "ed_vals", "ed_sig", "ed_vj"):
        con.execute(f"DROP TABLE {t}")
    return out


def semantic_staged(con, sample_mod: int | None = None) -> pd.DataFrame:
    """dedup_semantic: within-cell pair verify at distinct-value grain
    (cell assignment and cosine are value functions), expanded to doc
    pairs; same-value pairs share the cell and round to cosine exactly
    1.0 (zero-norm values excluded, as the static NULL does)."""
    import sys

    sys.path.insert(0, _REPO)
    from ftm_lakehouse_spark.queries.inventory import _ivf_dists_sql

    dists = _ivf_dists_sql(8, 64, 11)
    _embedding_value_tables(con, "sd")
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE sd_cell AS
        SELECT vh, v, m, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell
        FROM (SELECT vh, v, m, [{dists}] AS ds FROM sd_vals)"""
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE sd_vj AS
        SELECT l.vh AS va, r.vh AS vb, l.cell AS cell, {_COS_VV} AS cosine
        FROM sd_cell l JOIN sd_cell r ON l.cell = r.cell AND l.vh < r.vh
        WHERE {_COS_VV} >= 0.4"""
    )
    out = con.execute(_maybe_sample(
        """
        SELECT l.vec_id AS a, r.vec_id AS b, c.cell AS cell,
               CAST(1.0 AS DOUBLE) AS cosine
        FROM sd_rows l
        JOIN sd_rows r ON l.vh = r.vh AND l.vec_id < r.vec_id
        JOIN sd_cell c ON c.vh = l.vh
        WHERE list_dot_product(c.v, c.v) > 0
        UNION ALL
        SELECT least(da.vec_id, db.vec_id) AS a,
               greatest(da.vec_id, db.vec_id) AS b, j.cell, j.cosine
        FROM sd_vj j
        JOIN sd_rows da ON da.vh = j.va
        JOIN sd_rows db ON db.vh = j.vb
        """, sample_mod
    )).fetchdf()
    for t in ("sd_rows", "sd_vals", "sd_cell", "sd_vj"):
        con.execute(f"DROP TABLE {t}")
    return out



def winnow_staged(
    con, sample_mod: int | None = None, max_doc_freq: int = 64
) -> pd.DataFrame:
    """dedup_winnow_substrings: fingerprints are pure functions of the
    text value, so gram hashing + winnowing run once per DISTINCT text
    (~|distinct| rows at any replica scale), the doc-frequency guard
    counts docs as Σ multiplicity over the values carrying the
    fingerprint, and shared-fingerprint counts live at value-pair
    grain; doc pairs expand at the end (same-value pairs share the
    value's whole guarded fingerprint set). Same 52-bit integer
    fingerprints as the engine and the static oracle."""
    con.execute(
        """CREATE OR REPLACE TEMP TABLE wn_docs AS
        SELECT doc_id, md5(text) AS tv FROM documents
        WHERE length(text) >= 24"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE wn_fp AS
        WITH vals AS (
            SELECT md5(text) AS tv, substr(min(text), 1, 1200) AS t
            FROM documents WHERE length(text) >= 24 GROUP BY md5(text)
        ), grams AS (
            SELECT tv, i.generate_series AS pos,
                   CAST(('0x' || substring(md5(substr(t, i.generate_series, 24)),
                                           1, 13)) AS BIGINT) AS h
            FROM vals, generate_series(1, 1177) AS i
            WHERE i.generate_series <= length(t) - 23
        )
        SELECT DISTINCT tv,
               min(h) OVER (PARTITION BY tv ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
        FROM grams"""
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE wn_fpg AS
        SELECT f.tv, f.fp FROM wn_fp f
        JOIN (
            SELECT fp, sum(m.m) AS df FROM wn_fp f2
            JOIN (SELECT tv, count(*) AS m FROM wn_docs GROUP BY tv) m
              ON m.tv = f2.tv
            GROUP BY fp HAVING sum(m.m) > 1 AND sum(m.m) <= {int(max_doc_freq)}
        ) g USING (fp)"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE wn_vs AS
        SELECT l.tv AS va, r.tv AS vb, CAST(count(*) AS BIGINT) AS n_shared
        FROM wn_fpg l JOIN wn_fpg r ON l.fp = r.fp AND l.tv < r.tv
        GROUP BY va, vb HAVING count(*) >= 3"""
    )
    body = """
        SELECT l.doc_id AS a, r.doc_id AS b, s.n_shared
        FROM wn_docs l
        JOIN wn_docs r ON l.tv = r.tv AND l.doc_id < r.doc_id
        JOIN (
            SELECT tv, CAST(count(*) AS BIGINT) AS n_shared FROM wn_fpg
            GROUP BY tv HAVING count(*) >= 3
        ) s ON s.tv = l.tv
        UNION ALL
        SELECT least(da.doc_id, db.doc_id) AS a,
               greatest(da.doc_id, db.doc_id) AS b, j.n_shared
        FROM wn_vs j
        JOIN wn_docs da ON da.tv = j.va
        JOIN wn_docs db ON db.tv = j.vb
        """
    out = con.execute(_maybe_sample(body, sample_mod)).fetchdf()
    for t in ("wn_docs", "wn_fp", "wn_fpg", "wn_vs"):
        con.execute(f"DROP TABLE {t}")
    return out


STAGED = {
    "dedup_winnow_substrings": winnow_staged,
    "graph_pagerank": pagerank_staged,
    "pipeline_pretrain_corpus": pretrain_staged,
    "dedup_minhash_lsh": minhash_staged,
    "dedup_cluster_canonical": cluster_staged,
    "pipeline_embedding_curation": curation_staged,
    "dedup_ngram_jaccard": ngram_jaccard_staged,
    "dedup_simhash": simhash_staged,
    "sim_knn_blocked": knn_blocked_staged,
    "dedup_embedding_cosine": embedding_cosine_staged,
    "dedup_semantic": semantic_staged,
}
