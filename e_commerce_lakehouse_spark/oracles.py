"""DuckDB oracle SQL — one twin per entry in queries.ALL.

Rules that keep the driver's (row-count + schema + value-hash) compare
green:
- identical column aliases;
- every computed double ROUND-ed to the same precision as the Spark side;
- DuckDB's wider default int types cast down to Spark's (len/extract/
  row_number → INTEGER where Spark emits int, sums → BIGINT);
- hashes via md5 (bit-identical hex in both engines).
"""

from __future__ import annotations

_ORDERS_VALID = (
    "o_orderkey IS NOT NULL AND o_orderkey > 0 AND o_custkey IS NOT NULL "
    "AND o_custkey > 0 AND o_totalprice IS NOT NULL AND o_totalprice > 0 "
    "AND o_totalprice <= 150000.0 AND o_orderdate IS NOT NULL"
)


ALL: dict[str, str] = {
    "q05_validation_filter": f"""
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE coalesce({_ORDERS_VALID}, false)
    """,
    "q06_invalid_complement": f"""
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE NOT coalesce({_ORDERS_VALID}, false)
    """,
    "q07_value_buckets": """
        SELECT CASE WHEN o_totalprice < 50000.0 THEN 'Low'
                    WHEN o_totalprice < 150000.0 THEN 'Medium'
                    ELSE 'High' END AS order_value_category,
               count(*) AS n, round(avg(o_totalprice), 4) AS avg_amount
        FROM orders GROUP BY 1
    """,
    "q11_date_parts": """
        SELECT EXTRACT(year FROM o_orderdate)::INTEGER AS year,
               EXTRACT(month FROM o_orderdate)::INTEGER AS month,
               count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_amount
        FROM orders GROUP BY 1, 2
    """,
    "q17_merge_upsert": """
        WITH source AS (
            SELECT event_id, value * 2 AS value FROM events WHERE event_id % 100 = 0
            UNION ALL
            SELECT event_id + 10000000 AS event_id, value FROM events WHERE event_id % 500 = 0
        )
        SELECT e.event_id, round(e.value, 2) AS value FROM events e
        WHERE e.event_id NOT IN (SELECT event_id FROM source)
        UNION ALL
        SELECT event_id, round(value, 2) AS value FROM source
    """,
    "q36_skew_salted_agg": """
        SELECT user_id, count(*) AS n, min(value) AS min_value,
               max(value) AS max_value
        FROM events GROUP BY user_id
    """,
}


# q54: the row-level lifecycle's final table state, purely relationally —
# delete predicates as WHERE complements, SET expressions as CASEs. The
# last two stages run merge-on-read on the Spark side (one-snapshot
# tombstone+post-image UPDATE, then a stacked MoR delete over it) and the
# final scan applies them seq-aware WITHOUT materializing — relationally
# they are just another CASE and another WHERE.
ALL["q54_rowlevel_lifecycle"] = """
WITH cow AS (
    SELECT doc_id,
           CASE WHEN lang = 'zh' THEN upper(source) ELSE lang END AS lang,
           source,
           CASE WHEN lang = 'zh' THEN n_chars + 1000 ELSE n_chars END AS n_chars
    FROM documents
    WHERE NOT (lang = 'de' OR n_chars < 150) AND source <> 'src0'),
final AS (
    SELECT doc_id, lang, source,
           CASE WHEN lang = 'fr' THEN n_chars * 2 ELSE n_chars END AS n_chars
    FROM cow)
SELECT source, lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS chars
FROM final WHERE NOT (n_chars > 5000) GROUP BY source, lang
"""


# q30: the maintenance lifecycle's post-maintenance table state, purely
# relationally. The Spark side drives the REAL table format (ingest →
# compact → Z-order cluster → MERGE → manifest rewrite → expire → scan);
# the maintenance ops are all content-preserving except MERGE, whose
# semantics (whenMatchedUpdateAll + whenNotMatchedInsertAll) are stated
# here as anti-join + UNION ALL over the same expression-derived input.
ALL["q30_maintenance_lifecycle"] = """
WITH base AS (
    SELECT 'conv-' || lpad(CAST(event_id % 500 AS VARCHAR), 6, '0') AS conv_id,
           CAST(event_id // 500 AS INTEGER) AS turn_idx,
           CASE event_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
                ELSE 'tool' END AS role,
           props AS text,
           CASE WHEN event_id % 3 = 2 THEN event_type ELSE NULL END AS tool,
           ts
    FROM events),
corr AS (
    SELECT conv_id, turn_idx, role, upper(text) AS text, tool, ts FROM base
    WHERE (CAST(substring(conv_id, 6) AS BIGINT) + 500 * turn_idx) % 17 = 3
    UNION ALL
    SELECT conv_id, CAST(turn_idx + 10000000 AS INTEGER) AS turn_idx, role, text,
           tool, ts FROM base
    WHERE (CAST(substring(conv_id, 6) AS BIGINT) + 500 * turn_idx) % 41 = 5)
SELECT b.conv_id, b.turn_idx, b.role, b.text, b.tool, b.ts FROM base b
WHERE NOT EXISTS (SELECT 1 FROM corr c
                  WHERE c.conv_id = b.conv_id AND c.turn_idx = b.turn_idx)
UNION ALL
SELECT conv_id, turn_idx, role, text, tool, ts FROM corr
"""


# q58: the hidden-partitioned table's pruned scans, relationally — the
# partition transforms affect planning only, so the slices must equal the
# plain WHERE over the same q30 derivation.
ALL["q58_partitioned_scan"] = """
WITH base AS (
    SELECT 'conv-' || lpad(CAST(event_id % 500 AS VARCHAR), 6, '0') AS conv_id,
           CAST(event_id // 500 AS INTEGER) AS turn_idx,
           CASE event_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
                ELSE 'tool' END AS role,
           props AS text,
           CASE WHEN event_id % 3 = 2 THEN event_type ELSE NULL END AS tool,
           ts
    FROM events)
SELECT 'point' AS slice, role, count(*) AS n_rows, sum(turn_idx)::BIGINT AS sum_turn,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM base WHERE conv_id = 'conv-000042' GROUP BY role
UNION ALL
SELECT 'window' AS slice, role, count(*) AS n_rows, sum(turn_idx)::BIGINT AS sum_turn,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM base
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <= TIMESTAMP '2024-01-12 23:59:59'
GROUP BY role
"""


# q59: partition evolution relationally — the spec change and the
# cluster() migration affect file layout/planning only, so both the
# mixed-vintage and the post-migration slices must equal the plain WHERE
# over the union of the two ingest batches (= the whole derivation).
ALL["q59_partition_evolution"] = """
WITH base AS (
    SELECT 'conv-' || lpad(CAST(event_id % 500 AS VARCHAR), 6, '0') AS conv_id,
           CAST(event_id // 500 AS INTEGER) AS turn_idx,
           CASE event_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
                ELSE 'tool' END AS role,
           props AS text,
           CASE WHEN event_id % 3 = 2 THEN event_type ELSE NULL END AS tool,
           ts
    FROM events),
point AS (
    SELECT role, count(*) AS n_rows, sum(turn_idx)::BIGINT AS sum_turn,
           min(ts) AS min_ts, max(ts) AS max_ts
    FROM base WHERE conv_id = 'conv-000042' GROUP BY role),
win AS (
    SELECT role, count(*) AS n_rows, sum(turn_idx)::BIGINT AS sum_turn,
           min(ts) AS min_ts, max(ts) AS max_ts
    FROM base
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-01-12 23:59:59'
    GROUP BY role)
SELECT 'point-mixed' AS slice, * FROM point
UNION ALL SELECT 'window-mixed' AS slice, * FROM win
UNION ALL SELECT 'point-migrated' AS slice, * FROM point
UNION ALL SELECT 'window-migrated' AS slice, * FROM win
"""


# q61: exactly-once append ingest relationally — both slices (after the
# drain, and after a FULL re-delivery whose epochs the txn guard skips)
# must equal the plain aggregate over the whole derivation; a
# double-append would double the second slice's counts.
ALL["q61_exactly_once_ingest"] = """
WITH base AS (
    SELECT CAST(event_id // 500 AS INTEGER) AS turn_idx,
           CASE event_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
                ELSE 'tool' END AS role,
           ts
    FROM events),
full_t AS (
    SELECT role, count(*) AS n_rows, sum(turn_idx)::BIGINT AS sum_turn,
           min(ts) AS min_ts, max(ts) AS max_ts
    FROM base GROUP BY role)
SELECT 'post-ingest' AS slice, * FROM full_t
UNION ALL SELECT 'post-redelivery' AS slice, * FROM full_t
"""


# q62: partial-progress compaction relationally — the pre-compaction
# pin, the last partial commit, and the final head are all
# content-preserving views of the same rows.
ALL["q62_partial_progress_compact"] = """
WITH base AS (
    SELECT CAST(event_id // 500 AS INTEGER) AS turn_idx,
           CASE event_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
                ELSE 'tool' END AS role,
           ts
    FROM events),
full_t AS (
    SELECT role, count(*) AS n_rows, sum(turn_idx)::BIGINT AS sum_turn,
           min(ts) AS min_ts, max(ts) AS max_ts
    FROM base GROUP BY role)
SELECT 'base-pin' AS slice, * FROM full_t
UNION ALL SELECT 'last-partial' AS slice, * FROM full_t
UNION ALL SELECT 'final' AS slice, * FROM full_t
"""


# q57: the typed CDC change feed relationally — each lifecycle leg is a
# WHERE over documents; deletes emit pre-images, the MoR update emits
# post-images as inserts.
ALL["q57_cdc_changes"] = """
WITH live1 AS (SELECT * FROM documents WHERE lang <> 'de'),
live2 AS (SELECT * FROM live1 WHERE NOT (n_chars < 150)),
changes AS (
    SELECT 'delete' AS change_type, lang, n_chars FROM documents WHERE lang = 'de'
    UNION ALL
    SELECT 'delete' AS change_type, lang, n_chars FROM live1 WHERE n_chars < 150
    UNION ALL
    SELECT 'insert' AS change_type, lang, n_chars + 1000 AS n_chars
    FROM live2 WHERE lang = 'zh')
SELECT change_type, lang, count(*) AS n, sum(n_chars)::BIGINT AS chars
FROM changes GROUP BY change_type, lang
"""


# q74/q75: reader round-trips — the oracle states the truth about the
# ORIGINAL rows (documents + the literal stress rows); the Spark side
# must reproduce it through a CSV / xlsx serialize-parse cycle, so any
# quoting/escaping defect diverges the text-hash sum.
_READER_ROUNDTRIP_SQL = """
WITH u AS (
    SELECT doc_id, text, lang, source FROM documents
    UNION ALL
    SELECT * FROM (VALUES
        (1000001, 'comma, separated, "quoted" value', 'en', 'synthetic'),
        (1000002, 'she said "hi, there" & left <tag> intact', 'en', 'synthetic'),
        (1000003, 'plain & simple < or > text', 'de', 'synthetic')
    ) t(doc_id, text, lang, source))
SELECT source, lang, count(*)::BIGINT AS n,
       sum(length(text))::BIGINT AS sum_chars,
       sum(('0x' || substr(md5(text), 1, 10))::BIGINT)::BIGINT AS text_hash_sum
FROM u GROUP BY source, lang
"""
ALL["q74_csv_reader_roundtrip"] = _READER_ROUNDTRIP_SQL
ALL["q75_xlsx_reader"] = _READER_ROUNDTRIP_SQL

# q76: ANALYZE's exact stats (nulls/min/max as strings) per column.
ALL["q76_analyze_stats"] = """
WITH s AS (
    SELECT 'doc_id' AS col, count(*) FILTER (WHERE doc_id IS NULL)::BIGINT AS nulls,
           min(doc_id)::VARCHAR AS min_str, max(doc_id)::VARCHAR AS max_str
    FROM documents
    UNION ALL
    SELECT 'text', count(*) FILTER (WHERE text IS NULL)::BIGINT,
           min(text), max(text) FROM documents
    UNION ALL
    SELECT 'lang', count(*) FILTER (WHERE lang IS NULL)::BIGINT,
           min(lang), max(lang) FROM documents
    UNION ALL
    SELECT 'source', count(*) FILTER (WHERE source IS NULL)::BIGINT,
           min(source), max(source) FROM documents
    UNION ALL
    SELECT 'n_chars', count(*) FILTER (WHERE n_chars IS NULL)::BIGINT,
           min(n_chars)::VARCHAR, max(n_chars)::VARCHAR FROM documents)
SELECT col, nulls, min_str, max_str FROM s
"""

# q77: JSONL reader — good rows round-trip byte-exact (same shape as
# q74/q75) plus a literal corrupt-count sentinel row (3 corrupt lines).
ALL["q77_jsonl_reader"] = """
SELECT source, lang, count(*)::BIGINT AS n,
       sum(length(text))::BIGINT AS sum_chars,
       sum(('0x' || substr(md5(text), 1, 10))::BIGINT)::BIGINT AS text_hash_sum
FROM documents GROUP BY source, lang
UNION ALL
SELECT '__corrupt__', '', 3::BIGINT, 0::BIGINT, 0::BIGINT
"""


# q81: table-as-stream drain == relational truth over documents (the
# in-between compaction must contribute zero rows).
ALL["q81_table_stream_source"] = """
SELECT source, lang, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS sum_chars
FROM documents GROUP BY source, lang
"""

# q82: bloom-index point lookups == plain key-IN filter (a bloom false
# NEGATIVE would drop rows and break the hash; false positives only cost
# an extra file read and change nothing relationally).
ALL["q82_bloom_point_lookup"] = """
SELECT printf('doc-%09d', doc_id) AS conv_id, doc_id, source, lang, n_chars
FROM documents
WHERE printf('doc-%09d', doc_id) IN
    ('doc-000000003', 'doc-000000057', 'doc-000000123',
     'doc-000000250', 'doc-000000411')
"""

# q87: the schema-evolution lifecycle's final state, purely relationally —
# the rename is an alias, the widen a cast, the vintage split a CASE on
# the deterministic doc_id parity used to build the batches. If any
# vintage misbinds a column (rename) or truncates (widen), the value
# hash diverges.
ALL["q87_schema_evolution_lifecycle"] = """
SELECT source,
       lang AS language,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(CASE WHEN doc_id % 2 = 1
                     THEN CAST(doc_id % 97 AS BIGINT) END) AS BIGINT)
           AS sum_qscore
FROM documents
GROUP BY source, lang
"""


# q89: six windowed counts over the q30 transcripts derivation — the
# Spark side answers them metadata-first from manifest stats (boundary
# files only are read); relationally they are plain WHERE counts.
ALL["q89_metadata_count"] = """
WITH tr AS (
    SELECT ts FROM events
),
w AS (SELECT unnest(range(0, 6))::INT AS window_id)
SELECT w.window_id,
       (SELECT COUNT(*) FROM tr
        WHERE ts >= TIMESTAMP '2024-01-01' + INTERVAL (30 * w.window_id) DAY
          AND (w.window_id = 5 OR
               ts <= TIMESTAMP '2024-01-01' + INTERVAL (30 * (w.window_id + 3)) DAY)
       ) AS n_rows
FROM w
"""


# q90: retention delete == WHERE NOT (ts < cutoff) over the q30
# transcripts derivation (NULL ts kept, like SQL DELETE), re-aggregated.
ALL["q90_retention_delete"] = """
WITH tr AS (
    SELECT CASE event_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
           ELSE 'tool' END AS role,
           CASE WHEN event_id % 3 = 2 THEN event_type ELSE NULL END AS tool,
           ts
    FROM events
)
SELECT role,
       COUNT(*) AS n_turns,
       MIN(ts) AS min_ts,
       COUNT(tool) AS n_tool
FROM tr
WHERE NOT COALESCE(ts < TIMESTAMP '2023-12-15', FALSE)
GROUP BY role
"""


# q91: the CDF stream's net state == the table's final state, stated as
# the plain relational mirror of the cow lifecycle (delete role='tool',
# update role='system' text) over the q30 transcripts derivation.
ALL["q91_cdf_stream_replay"] = """
WITH tr AS (
    SELECT CASE event_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
           ELSE 'tool' END AS role,
           CASE WHEN event_id % 3 = 2 THEN event_type ELSE NULL END AS tool,
           props AS text,
           CAST(event_id // 500 AS INT) AS turn_idx
    FROM events
),
cow AS (  -- copy-on-write leg: DELETE role='tool', UPDATE assistant
    SELECT role, tool, turn_idx,
           CASE WHEN role = 'assistant' THEN 'SYS' ELSE text END AS text
    FROM tr
    WHERE NOT COALESCE(role = 'tool', FALSE)
),
fin AS (  -- merge-on-read leg: DELETE turn_idx>=8, UPDATE user turn 0
    SELECT role, tool,
           CASE WHEN role = 'user' AND turn_idx = 0 THEN 'HI'
                ELSE text END AS text
    FROM cow
    WHERE NOT COALESCE(turn_idx >= 8, FALSE)
)
SELECT role,
       COUNT(*) AS n_turns,
       COUNT(tool) AS n_tool,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS text_chars
FROM fin
GROUP BY role
"""


# q92: generic-key clustering is content-preserving — the oracle is the
# plain group-by over documents; any row the rewrite dropped/duplicated
# diverges the hash.
ALL["q92_generic_cluster"] = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc
FROM documents
GROUP BY lang
"""


# q100: idempotent COPY INTO relationally — the 'initial' slice (two of
# three thirds, loaded once despite the glob being copied TWICE) and the
# 'final' slice (all rows after only the new file loads) both equal the
# plain aggregates over their derivations; a double-load doubles
# 'initial' and breaks the hash.
ALL["q100_copy_into"] = """
WITH base AS (
    SELECT CAST(event_id // 500 AS INTEGER) AS turn_idx,
           CASE event_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
                ELSE 'tool' END AS role,
           ts
    FROM events),
s1 AS (
    SELECT role, count(*) AS n_rows, sum(turn_idx)::BIGINT AS sum_turn,
           min(ts) AS min_ts, max(ts) AS max_ts
    FROM base WHERE turn_idx % 3 < 2 GROUP BY role),
s2 AS (
    SELECT role, count(*) AS n_rows, sum(turn_idx)::BIGINT AS sum_turn,
           min(ts) AS min_ts, max(ts) AS max_ts
    FROM base GROUP BY role)
SELECT 'initial' AS slice, * FROM s1
UNION ALL SELECT 'final' AS slice, * FROM s2
"""


# q101: CDC replication relationally — the replica's 'initial' slice is
# the even-turn half; 'final' is the full derivation minus tool rows,
# with assistant turn_idx%7==0 texts rewritten to 'EDITED'. Both sides
# count n_edited from the data, so the mirror is exact by construction.
ALL["q101_cdc_replication"] = """
WITH base AS (
    SELECT CAST(event_id // 500 AS INTEGER) AS turn_idx,
           CASE event_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
                ELSE 'tool' END AS role,
           props AS text
    FROM events),
b1 AS (SELECT * FROM base WHERE turn_idx % 2 = 0),
fin AS (
    SELECT role, turn_idx,
           CASE WHEN role = 'assistant' AND turn_idx % 7 = 0
                THEN 'EDITED' ELSE text END AS text
    FROM base WHERE role <> 'tool'),
i AS (
    SELECT role, count(*) AS n_rows, sum(turn_idx)::BIGINT AS sum_turn,
           sum(CASE WHEN text = 'EDITED' THEN 1 ELSE 0 END)::BIGINT AS n_edited
    FROM b1 GROUP BY role),
f AS (
    SELECT role, count(*) AS n_rows, sum(turn_idx)::BIGINT AS sum_turn,
           sum(CASE WHEN text = 'EDITED' THEN 1 ELSE 0 END)::BIGINT AS n_edited
    FROM fin GROUP BY role)
SELECT 'initial' AS slice, * FROM i
UNION ALL SELECT 'final' AS slice, * FROM f
"""


# q104: auto-maintenance — every planner-chosen step (full cluster,
# materialize_deletes, incremental cluster, manifest rewrite, expire)
# is content-preserving over already-committed state, so the final
# table equals the base derivation minus the two expression-defined
# MoR deletes. The first delete ran while the table held only the
# turn_idx % 5 <> 0 batch, so its predicate is scoped to that batch;
# the second ran after the full append.
ALL["q104_auto_maintain"] = """
WITH base AS (
    SELECT 'conv-' || lpad(CAST(event_id % 500 AS VARCHAR), 6, '0') AS conv_id,
           CAST(event_id // 500 AS INTEGER) AS turn_idx,
           CASE event_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
                ELSE 'tool' END AS role,
           props AS text,
           CASE WHEN event_id % 3 = 2 THEN event_type ELSE NULL END AS tool,
           ts
    FROM events)
SELECT role, count(*) AS n_rows, sum(turn_idx)::BIGINT AS sum_turn,
       sum(length(text))::BIGINT AS n_chars,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM base
WHERE NOT (turn_idx % 5 <> 0 AND role = 'tool' AND turn_idx % 7 = 0)
  AND NOT (role = 'user' AND turn_idx % 11 = 3)
GROUP BY role
"""


# q175: transcript projection + per-conversation integrity audit —
# same deterministic role cycle and (ts, event_id) turn order as
# operators/transcripts.py.
ALL["q175_transcript_audit"] = """
WITH ordered AS (
    SELECT user_id, ts, event_id,
        coalesce(props::VARCHAR, '') AS text,
        (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            - 1)::INT AS turn_idx
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL),
tr AS (
    SELECT printf('conv-%09d', user_id) AS conv_id, turn_idx,
        CASE WHEN turn_idx = 0 THEN 'system'
             WHEN event_id % 17 = 5 THEN 'tool'
             WHEN turn_idx % 2 = 1 THEN 'assistant'
             ELSE 'user' END AS role,
        epoch_us(ts) AS ts_us, length(text)::BIGINT AS len
    FROM ordered),
a AS (
    SELECT conv_id, turn_idx, role, ts_us, len,
        lag(role) OVER w AS prev_role,
        lag(ts_us) OVER w AS prev_ts
    FROM tr WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
SELECT conv_id, count(*)::BIGINT AS n_turns,
    count(DISTINCT role)::BIGINT AS n_roles,
    sum((role = 'tool')::INT)::BIGINT AS n_tool_turns,
    sum(len)::BIGINT AS n_chars,
    (max(turn_idx) = count(*) - 1 AND min(turn_idx) = 0) AS idx_contiguous,
    (sum((prev_ts IS NOT NULL AND ts_us < prev_ts)::INT) = 0) AS ts_monotone,
    sum((prev_role IS NOT NULL AND role = prev_role)::INT)::BIGINT
        AS n_role_repeats,
    floor((max(ts_us) - min(ts_us)) / 1000000)::BIGINT AS duration_sec,
    coalesce(floor(max(ts_us - prev_ts) / 1000000)::BIGINT, 0) AS max_gap_sec
FROM a GROUP BY conv_id
"""


# q178-q180 share q175's transcript projection (same deterministic
# role cycle and (ts, event_id) turn order).
_TRANSCRIPT_CTE = """
ordered AS (
    SELECT user_id, ts, event_id, event_type,
        coalesce(props::VARCHAR, '') AS text,
        (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            - 1)::INT AS turn_idx
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL),
tr AS (
    SELECT printf('conv-%09d', user_id) AS conv_id, turn_idx,
        CASE WHEN turn_idx = 0 THEN 'system'
             WHEN event_id % 17 = 5 THEN 'tool'
             WHEN turn_idx % 2 = 1 THEN 'assistant'
             ELSE 'user' END AS role,
        event_type, epoch_us(ts) AS ts_us, text,
        length(text)::BIGINT AS len
    FROM ordered)
"""

ALL["q178_context_budget"] = f"""
WITH {_TRANSCRIPT_CTE},
c AS (
    SELECT conv_id, turn_idx, len,
        sum(len) OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM tr)
SELECT conv_id, count(*)::BIGINT AS n_turns, sum(len)::BIGINT AS total_chars,
    sum((cum <= 2000)::INT)::BIGINT AS n_turns_within_budget,
    min(CASE WHEN cum > 2000 THEN turn_idx END)::INT AS first_overflow_turn,
    (max((cum > 2000)::INT) = 1) AS overflowed
FROM c GROUP BY conv_id
"""

ALL["q179_response_latency"] = f"""
WITH {_TRANSCRIPT_CTE},
nx AS (
    SELECT conv_id, role, ts_us,
        lead(role) OVER w AS next_role,
        lead(ts_us) OVER w AS next_ts
    FROM tr WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
pairs AS (
    SELECT conv_id, (next_ts - ts_us) AS lat_us
    FROM nx WHERE role = 'user' AND next_role = 'assistant')
SELECT conv_id, count(*)::BIGINT AS n_exchanges,
    floor(min(lat_us) / 1000000)::BIGINT AS min_latency_sec,
    floor(max(lat_us) / 1000000)::BIGINT AS max_latency_sec,
    round(floor(sum(lat_us)::DOUBLE / count(*)::DOUBLE)::DOUBLE
        / 1000000.0, 6) AS avg_latency_sec
FROM pairs GROUP BY conv_id
"""

ALL["q180_conversation_dedup"] = f"""
WITH {_TRANSCRIPT_CTE},
fp AS (
    SELECT conv_id,
        md5(string_agg(length(text)::VARCHAR || ':' || text, chr(31)
            ORDER BY turn_idx)) AS fingerprint
    FROM tr GROUP BY conv_id),
g AS (
    SELECT fingerprint, count(*)::BIGINT AS group_size,
        min(conv_id) AS keeper
    FROM fp GROUP BY fingerprint)
SELECT f.conv_id, f.fingerprint, g.group_size,
    (f.conv_id = g.keeper) AS is_canonical
FROM fp f JOIN g USING (fingerprint)
"""


# q181-q188: transcript analytics over the same deterministic projection;
# this variant of the CTE carries event_type through so the tool column
# (CASE role='tool' -> event_type) is reconstructible.
_TRANSCRIPT_CTE_TOOL = _TRANSCRIPT_CTE

ALL["q181_tool_usage_profile"] = f"""
WITH {_TRANSCRIPT_CTE_TOOL},
m AS (
    SELECT *, max(turn_idx) OVER (PARTITION BY conv_id) AS max_idx FROM tr),
t AS (
    SELECT event_type AS tool, conv_id,
        ((turn_idx::BIGINT * 1000000) // greatest(max_idx, 1))::BIGINT AS rel_ppm, len
    FROM m WHERE role = 'tool' AND event_type IS NOT NULL)
SELECT tool, count(*)::BIGINT AS n_calls,
    count(DISTINCT conv_id)::BIGINT AS n_convs,
    (sum(rel_ppm)::BIGINT // count(*))::BIGINT AS avg_rel_pos_ppm,
    round(((sum(len)::BIGINT * 1000000) // count(*))::DOUBLE
        / 1000000.0, 6) AS avg_len,
    max(len)::BIGINT AS max_len
FROM t GROUP BY tool
"""

ALL["q182_prefix_templates"] = f"""
WITH {_TRANSCRIPT_CTE_TOOL},
fp AS (
    SELECT conv_id,
        md5(string_agg(length(text)::VARCHAR || ':' || text, chr(31)
            ORDER BY turn_idx) FILTER (WHERE turn_idx < 3)) AS prefix_fp,
        md5(string_agg(length(text)::VARCHAR || ':' || text, chr(31)
            ORDER BY turn_idx)) AS full_fp,
        count(*)::BIGINT AS n_turns
    FROM tr GROUP BY conv_id),
f AS (SELECT * FROM fp WHERE n_turns >= 3)
SELECT prefix_fp, count(*)::BIGINT AS group_size,
    count(DISTINCT full_fp)::BIGINT AS n_continuations,
    min(conv_id) AS keeper,
    (count(DISTINCT full_fp) > 1) AS is_branching
FROM f GROUP BY prefix_fp
"""

ALL["q183_turn_position_profile"] = f"""
WITH {_TRANSCRIPT_CTE_TOOL},
m AS (SELECT *, count(*) OVER (PARTITION BY conv_id) AS n_conv FROM tr),
b AS (
    SELECT role, ((turn_idx::BIGINT * 10) // n_conv)::INT AS pos_bucket, len
    FROM m)
SELECT role, pos_bucket, count(*)::BIGINT AS n_turns,
    sum(len)::BIGINT AS total_chars,
    round(((sum(len)::BIGINT * 1000000) // count(*))::DOUBLE
        / 1000000.0, 6) AS avg_len,
    max(len)::BIGINT AS max_len
FROM b GROUP BY role, pos_bucket
"""

ALL["q184_agent_loop_runs"] = f"""
WITH {_TRANSCRIPT_CTE_TOOL},
r AS (
    SELECT conv_id, role, turn_idx, md5(text) AS fp,
        (turn_idx - row_number() OVER (
            PARTITION BY conv_id, role ORDER BY turn_idx)) AS grp
    FROM tr),
runs AS (
    SELECT conv_id, role, grp, count(*)::BIGINT AS run_len,
        count(DISTINCT fp) AS n_texts
    FROM r GROUP BY 1, 2, 3),
per AS (
    SELECT conv_id, max(run_len)::BIGINT AS max_run_len,
        sum((run_len >= 2)::INT)::BIGINT AS n_loop_runs,
        sum(CASE WHEN run_len >= 2 THEN run_len ELSE 0 END)::BIGINT
            AS n_looped_turns,
        sum((run_len >= 2 AND n_texts = 1)::INT)::BIGINT AS n_exact_loops
    FROM runs GROUP BY conv_id)
SELECT * FROM per WHERE max_run_len >= 2
"""

ALL["q185_tool_bigrams"] = f"""
WITH {_TRANSCRIPT_CTE_TOOL},
t AS (
    SELECT conv_id, turn_idx, event_type AS tool
    FROM tr WHERE role = 'tool' AND event_type IS NOT NULL),
p AS (
    SELECT conv_id, tool AS tool_a,
        lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS tool_b
    FROM t)
SELECT tool_a, tool_b, count(*)::BIGINT AS n_pairs,
    count(DISTINCT conv_id)::BIGINT AS n_convs
FROM p WHERE tool_b IS NOT NULL GROUP BY tool_a, tool_b
"""

ALL["q186_conversation_cost"] = f"""
WITH {_TRANSCRIPT_CTE},
c AS (
    SELECT conv_id, count(*)::BIGINT AS n_turns,
        sum(len)::BIGINT AS total_chars,
        sum(len * CASE role WHEN 'system' THEN 2 WHEN 'user' THEN 3
            WHEN 'assistant' THEN 15 ELSE 1 END)::BIGINT AS cost_micros
    FROM tr GROUP BY conv_id),
tt AS (SELECT sum(cost_micros)::BIGINT AS total_cost FROM c)
SELECT conv_id, n_turns, total_chars, cost_micros,
    (CASE WHEN total_cost > 0 THEN
        floor((cost_micros::DOUBLE * 1000000.0) / total_cost::DOUBLE)
        ELSE 0 END)::BIGINT AS cost_share_ppm
FROM c, tt
"""

ALL["q187_boilerplate_turns"] = f"""
WITH {_TRANSCRIPT_CTE_TOOL},
t AS (
    SELECT role, conv_id, md5(text) AS fingerprint, len
    FROM tr WHERE len > 0)
SELECT role, fingerprint, min(len)::BIGINT AS text_len,
    count(*)::BIGINT AS n_occurrences,
    count(DISTINCT conv_id)::BIGINT AS n_convs
FROM t GROUP BY role, fingerprint HAVING count(*) >= 2
"""

ALL["q188_context_pack_examples"] = f"""
WITH {_TRANSCRIPT_CTE_TOOL},
s AS (
    SELECT conv_id, turn_idx, role, len,
        coalesce(sum(len) OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0)::BIGINT AS ctx_start
    FROM tr),
e AS (
    SELECT conv_id, role,
        (count(*) OVER (PARTITION BY conv_id ORDER BY ctx_start
            RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) - 1)::BIGINT
            AS ctx_turns
    FROM s)
SELECT conv_id, count(*)::BIGINT AS n_examples,
    sum(ctx_turns)::BIGINT AS total_ctx_turns,
    max(ctx_turns)::BIGINT AS max_ctx_turns
FROM e WHERE role = 'assistant' GROUP BY conv_id
"""


# q204: preference pairs — same lead() adjacency as q179, ranking window
# ordered (score DESC, conv_id, resp_idx); rejected = LAST row of the
# same ordering so chosen != rejected whenever the group qualifies.
ALL["q204_preference_pairs"] = f"""
WITH {_TRANSCRIPT_CTE_TOOL},
nxt AS (
    SELECT conv_id, turn_idx, role, text,
        lead(role) OVER w AS next_role,
        lead(text) OVER w AS next_text,
        lead(turn_idx) OVER w AS next_idx
    FROM tr WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
resp AS (
    SELECT text AS prompt, conv_id, next_idx AS resp_idx,
        length(next_text)::BIGINT AS score
    FROM nxt
    WHERE role = 'user' AND next_role = 'assistant'
      AND next_idx = turn_idx + 1),
ranked AS (
    SELECT prompt, conv_id, resp_idx, score,
        row_number() OVER (PARTITION BY prompt
                           ORDER BY score DESC, conv_id, resp_idx) AS rn,
        count(*) OVER (PARTITION BY prompt) AS n
    FROM resp)
SELECT b.prompt, b.n::BIGINT AS n_candidates,
    b.conv_id AS chosen_conv, b.resp_idx::INT AS chosen_turn,
    b.score AS chosen_score,
    w.conv_id AS rejected_conv, w.resp_idx::INT AS rejected_turn,
    w.score AS rejected_score,
    (b.score - w.score)::BIGINT AS margin
FROM ranked b
JOIN ranked w ON w.prompt = b.prompt AND w.rn = w.n
WHERE b.rn = 1 AND b.n >= 2
"""


# q205: dynamic file pruning — the pruned scan must EQUAL the plain
# semi-join; the oracle is that semi-join (skipping itself is pinned by
# pytest metrics, not the hash).
ALL["q205_dynamic_file_pruning"] = """
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
FROM documents
WHERE doc_id IN (SELECT vec_id FROM embeddings WHERE label = 3)
GROUP BY lang
"""


# q206: truncation strategies — forward/reverse inclusive cumsums; a
# turn survives middle-drop if it fits the head OR tail half-budget.
ALL["q206_truncation_audit"] = f"""
WITH {_TRANSCRIPT_CTE_TOOL},
c AS (
    SELECT conv_id, turn_idx, len,
        sum(len) OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fwd,
        sum(len) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev
    FROM tr)
SELECT conv_id,
    count(*)::BIGINT AS n_turns,
    sum(len)::BIGINT AS total_chars,
    sum((fwd <= 120)::INT)::BIGINT AS head_turns,
    sum(CASE WHEN fwd <= 120 THEN len ELSE 0 END)::BIGINT AS head_chars,
    sum((rev <= 120)::INT)::BIGINT AS tail_turns,
    sum(CASE WHEN rev <= 120 THEN len ELSE 0 END)::BIGINT AS tail_chars,
    sum((fwd <= 60 OR rev <= 60)::INT)::BIGINT AS middrop_turns,
    sum(CASE WHEN fwd <= 60 OR rev <= 60 THEN len ELSE 0 END)::BIGINT
        AS middrop_chars
FROM c GROUP BY conv_id
"""


# q207: grounding audit — RANGE window over turn_idx (dense, so RANGE
# [-2, -1] == the two preceding turns); ppm via exact integer //.
ALL["q207_grounding_audit"] = f"""
WITH {_TRANSCRIPT_CTE_TOOL},
g AS (
    SELECT conv_id, turn_idx, role,
        (count(CASE WHEN role = 'tool' THEN 1 END) OVER (
            PARTITION BY conv_id ORDER BY turn_idx
            RANGE BETWEEN 2 PRECEDING AND 1 PRECEDING) > 0)::BIGINT
            AS grounded
    FROM tr)
SELECT conv_id,
    count(*)::BIGINT AS n_turns,
    sum((role = 'tool')::INT)::BIGINT AS n_tool,
    sum((role = 'assistant')::INT)::BIGINT AS n_assistant,
    sum(CASE WHEN role = 'assistant' THEN grounded ELSE 0 END)::BIGINT
        AS n_grounded,
    CASE WHEN sum((role = 'assistant')::INT) > 0 THEN
        (sum(CASE WHEN role = 'assistant' THEN grounded ELSE 0 END)
         * 1000000) // sum((role = 'assistant')::INT)
    END::BIGINT AS grounded_ppm
FROM g GROUP BY conv_id
"""


# q208: SFT example export — q188's RANGE-window machinery, emitting
# the per-target manifest instead of per-conversation counts. ANSI
# RANGE peers include same-ctx_start FOLLOWERS (a zero-length turn
# makes its successor a peer), which would leak FUTURE turns into a
# training context: the peer window subtracts them, exactly like the
# Spark side.
ALL["q208_sft_examples"] = f"""
WITH {_TRANSCRIPT_CTE},
c AS (
    SELECT conv_id, turn_idx, role, len,
        coalesce(sum(len) OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS ctx_start
    FROM tr),
e AS (
    SELECT conv_id, turn_idx, role, len, ctx_start,
        (count(*) OVER w - 1 - count(*) OVER p)::BIGINT AS n_ctx_turns,
        min(turn_idx) OVER w AS min_idx,
        (sum(len) OVER w - len - coalesce(sum(len) OVER p, 0))::BIGINT
            AS ctx_chars
    FROM c
    WINDOW w AS (PARTITION BY conv_id ORDER BY ctx_start
                 RANGE BETWEEN 100 PRECEDING AND CURRENT ROW),
           p AS (PARTITION BY conv_id, ctx_start ORDER BY turn_idx
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT conv_id, turn_idx::INT AS target_turn_idx,
    CASE WHEN n_ctx_turns > 0 THEN min_idx ELSE turn_idx END::INT
        AS first_ctx_turn,
    n_ctx_turns, ctx_chars, len AS target_chars
FROM e WHERE role = 'assistant'
"""


# q210: preference pipeline — q204's pair construction as a nested CTE,
# then the same md5 gates (DuckDB md5 = lowercase hex like Spark's).
ALL["q210_preference_pipeline"] = f"""
WITH pairs AS ({ALL["q204_preference_pairs"]})
SELECT CASE WHEN substr(md5('split|' || prompt), 1, 1) < '3'
            THEN 'val' ELSE 'train' END AS split,
    prompt, n_candidates,
    chosen_conv, chosen_turn, chosen_score,
    rejected_conv, rejected_turn, rejected_score, margin
FROM pairs
WHERE margin >= 1 AND chosen_score <= 2000
  AND NOT (substr(md5(prompt), 1, 1) < '1')
"""


# q211: prefix-cache ROI — exclusive cumsum per conv, billed-with-cache
# collapses to the max request context; ppm via exact integer //.
ALL["q211_cache_economics"] = f"""
WITH {_TRANSCRIPT_CTE_TOOL},
c AS (
    SELECT conv_id, turn_idx, role, len,
        coalesce(sum(len) OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS ctx_start
    FROM tr),
req AS (
    SELECT conv_id, (ctx_start + len)::BIGINT AS billed
    FROM c WHERE role = 'assistant'),
agg AS (
    SELECT conv_id, count(*)::BIGINT AS n_requests,
        sum(billed)::BIGINT AS nocache_chars,
        max(billed)::BIGINT AS cache_chars
    FROM req GROUP BY conv_id)
SELECT conv_id, n_requests, nocache_chars, cache_chars,
    CASE WHEN nocache_chars > 0 THEN
        ((nocache_chars - cache_chars) * 1000000) // nocache_chars
    ELSE 0 END::BIGINT AS saved_ppm
FROM agg
"""


# q214: turn windows — the same membership algebra via generate_series;
# ceil((i - W + 1)/S) expressed with integer ceiling division.
ALL["q214_turn_windows"] = f"""
WITH {_TRANSCRIPT_CTE_TOOL},
m AS (
    SELECT conv_id, turn_idx, len,
        unnest(range(
            greatest(0, (turn_idx - 8 + 1 + 4 - 1) // 4),
            (turn_idx // 4) + 1)) AS window_id
    FROM tr)
SELECT conv_id, window_id::BIGINT AS window_id,
    min(turn_idx)::INT AS first_turn, max(turn_idx)::INT AS last_turn,
    count(*)::BIGINT AS n_turns, sum(len)::BIGINT AS n_chars,
    (count(*) = 8) AS complete
FROM m GROUP BY conv_id, window_id
"""


# q215: window dedup — q214's membership algebra, fingerprint via
# ordered string_agg with the same len:text unit-separated encoding
# (chr(31) = \x1f), canonical = smallest (conv_id, window_id).
ALL["q215_window_dedup"] = f"""
WITH {_TRANSCRIPT_CTE_TOOL},
m AS (
    SELECT conv_id, turn_idx, text,
        unnest(range(
            greatest(0, (turn_idx - 8 + 1 + 4 - 1) // 4),
            (turn_idx // 4) + 1)) AS window_id
    FROM tr),
w AS (
    SELECT conv_id, window_id::BIGINT AS window_id,
        md5(string_agg(length(text)::VARCHAR || ':' || text, chr(31)
            ORDER BY turn_idx)) AS fingerprint,
        count(*)::BIGINT AS n_turns
    FROM m GROUP BY conv_id, window_id)
SELECT conv_id, window_id, fingerprint, n_turns,
    count(*) OVER (PARTITION BY fingerprint)::BIGINT AS group_size,
    (row_number() OVER (PARTITION BY fingerprint
                        ORDER BY conv_id, window_id) = 1) AS is_canonical
FROM w
"""


# q222: zero-copy clone isolation — after a cow DELETE in the clone,
# source = the full per-lang profile, clone = the same minus lang='fr'.
# Any shared-inode corruption (the rewrite touching a linked file) or
# clone under/over-delete diverges one side's counts.
ALL["q222_shallow_clone"] = """
SELECT 'source' AS side, lang,
       count(*)::BIGINT AS n_docs,
       SUM(n_chars)::BIGINT AS sum_chars
FROM documents
GROUP BY lang
UNION ALL
SELECT 'clone' AS side, lang,
       count(*)::BIGINT AS n_docs,
       SUM(n_chars)::BIGINT AS sum_chars
FROM documents WHERE lang <> 'fr' OR lang IS NULL
GROUP BY lang
"""

