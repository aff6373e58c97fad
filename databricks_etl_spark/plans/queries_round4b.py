"""Round-4 second wave: graph analytics over the dup-candidate graph,
a cross-engine Bloom-filter membership gate, interval-concurrency
sweep, a deequ-style data-quality expectation report, CDC changelog
compaction, and marketing attribution.

Every query here is hash-checked against DuckDB. None have a reference
analog (the reference is a fixed 3-notebook pipeline — see SURVEY.md
§2); they extend §2.12's large-pipeline surface: the triangle census
completes the graph ladder (connected components q123 → PageRank q169
→ triangles), the Bloom gate completes the sketch ladder (HLL q143 →
CMS q146 → KLL q149 → Bloom), and compaction/attribution/DQ are the
operational queries a 100 TB ingestion pipeline runs daily.

Determinism rules followed throughout (README): identical aliases both
sides, md5 for cross-engine hashing, integer/decimal arithmetic before
any double division, round(·, 6) on every ratio, explicit (ts,
event_id) tiebreakers, second-floored epoch diffs via the q81 pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_etl_spark.plans.queries_round4 import _band_buckets, _BANDS_SQL
from databricks_etl_spark.plans.queries_similarity import _dot_sql
from databricks_etl_spark.plans.registry import query
from databricks_etl_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# q185 — triangle census / global clustering coefficient of the LSH
# candidate graph
# ---------------------------------------------------------------------------

_EDGES_SQL = f"""
        WITH {_BANDS_SQL},
        e AS (
            SELECT DISTINCT a.doc_id AS u, c.doc_id AS v
            FROM b a JOIN b c
              ON a.band = c.band AND a.band_hash = c.band_hash
             AND a.doc_id < c.doc_id
        )
"""


@query(
    "q185_triangle_census",
    oracle=f"""
        {_EDGES_SQL},
        deg AS (
            SELECT node, COUNT(*) AS d
            FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
            GROUP BY node
        ),
        tri AS (
            SELECT COUNT(*) AS n_tri
            FROM e ab JOIN e bc ON ab.v = bc.u
                      JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
        )
        SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
               CAST((SELECT n_tri FROM tri) AS BIGINT) AS n_triangles,
               CAST((SELECT CAST(SUM(d * (d - 1)) / 2 AS BIGINT) FROM deg)
                   AS BIGINT) AS n_wedges,
               round(CASE WHEN (SELECT SUM(d * (d - 1)) / 2 FROM deg) > 0
                          THEN 3.0 * (SELECT n_tri FROM tri)
                               / (SELECT SUM(d * (d - 1)) / 2 FROM deg)
                          END, 6) AS global_clustering
    """,
    bench=True,
)
def q185_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the LSH
    near-dup candidate graph — the graph-shape diagnostic a dedup
    pipeline runs before clustering: high clustering means collision
    buckets are coherent groups (safe to transitively merge, q123);
    low clustering means chains of borderline pairs that transitive
    closure would over-merge. Completes the graph ladder (components
    q123 → PageRank q169 → triangles).

    Plan: edges oriented u < v, so each triangle u<v<w is counted
    exactly once by the two-join wedge-close ((u,v)⋈(v,w)⋈(u,w)) —
    the standard distributed triangle enumeration. At 100 TB the
    orientation bounds join fan-out by max out-degree; the candidate
    graph is near-linear in corpus size (scale gate on q173's
    generator), so both joins are shuffle-bounded equi-joins, never a
    cross product. Wedge count Σ d(d-1)/2 is one map-combinable agg.
    """
    b = _band_buckets(spark, sf_dir)
    a = b.select(F.col("doc_id").alias("u"), "band", "band_hash")
    c = b.select(F.col("doc_id").alias("v"), "band", "band_hash")
    e = (
        a.join(c, ["band", "band_hash"])
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        # five consumers below (degree, three triangle legs, edge
        # count): materialize the banding subplan once instead of
        # relying on unasserted exchange reuse (r4 verdict #4); lazy so
        # a pure explain() never triggers the job
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias("n_wedges")
    )
    ab = e.select(F.col("u").alias("tu"), F.col("v").alias("tv"))
    bc = e.select(F.col("u").alias("tv"), F.col("v").alias("tw"))
    ac = e.select(F.col("u").alias("tu"), F.col("v").alias("tw"))
    tri = (
        ab.join(bc, "tv")
        .join(ac, ["tu", "tw"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    row = n_edges.crossJoin(tri).crossJoin(wedges)  # three 1-row aggregates
    return row.select(
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
        F.col("n_wedges").cast("long").alias("n_wedges"),
        F.round(
            F.when(
                F.col("n_wedges") > 0,
                3.0 * F.col("n_triangles") / F.col("n_wedges"),
            ),
            6,
        ).alias("global_clustering"),
    )


# ---------------------------------------------------------------------------
# q186 — Bloom-filter membership gate (completes the sketch ladder)
# ---------------------------------------------------------------------------

_BLOOM_K = 3  # hash functions
_BLOOM_PRICE = 490_000  # member set: orders priced above this


def _pos_sql(i: int, key: str) -> str:
    """Bit position 0..4095 for hash function ``i``: first three md5
    nibbles of ``'i|key'`` (the q163 nibble-extraction idiom)."""
    h = f"md5('{i}|' || CAST({key} AS VARCHAR))"
    return (
        f"((instr('0123456789abcdef', substr({h}, 1, 1)) - 1) * 256"
        f" + (instr('0123456789abcdef', substr({h}, 2, 1)) - 1) * 16"
        f" + (instr('0123456789abcdef', substr({h}, 3, 1)) - 1))"
    )


def _pos_col(i: int, key) -> F.Column:
    h = F.md5(F.concat(F.lit(f"{i}|"), key.cast("string")))
    nib = lambda k: F.instr(F.lit("0123456789abcdef"), F.substring(h, k, 1)) - 1
    return nib(1) * 256 + nib(2) * 16 + nib(3)


@query(
    "q186_bloom_membership_gate",
    oracle=f"""
        WITH members AS (
            SELECT o_orderkey AS k FROM orders WHERE o_totalprice > {_BLOOM_PRICE}
        ),
        mpos AS (
            {" UNION ALL ".join(f"SELECT k, {_pos_sql(i, 'k')} AS pos FROM members" for i in range(_BLOOM_K))}
        ),
        words AS (
            SELECT pos >> 5 AS word,
                   bit_or(CAST(1 AS BIGINT) << (pos & 31)) AS bits
            FROM mpos GROUP BY 1
        ),
        probes AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
        ppos AS (
            {" UNION ALL ".join(f"SELECT k, {_pos_sql(i, 'k')} AS pos FROM probes" for i in range(_BLOOM_K))}
        ),
        hits AS (
            SELECT p.k,
                   SUM(CASE WHEN ((COALESCE(w.bits, 0) >> (p.pos & 31)) & 1) = 1
                            THEN 1 ELSE 0 END) AS n_set
            FROM ppos p LEFT JOIN words w ON w.word = p.pos >> 5
            GROUP BY p.k
        ),
        verdicts AS (
            SELECT h.k,
                   h.n_set = {_BLOOM_K} AS bloom_hit,
                   m.k IS NOT NULL AS is_member
            FROM hits h LEFT JOIN members m ON m.k = h.k
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(COUNT(*) FILTER (is_member) AS BIGINT) AS n_members,
               CAST(COUNT(*) FILTER (bloom_hit) AS BIGINT) AS n_bloom_hits,
               CAST(COUNT(*) FILTER (bloom_hit AND NOT is_member) AS BIGINT)
                   AS n_false_positives,
               CAST(COUNT(*) FILTER (is_member AND NOT bloom_hit) AS BIGINT)
                   AS n_false_negatives,
               COUNT(*) FILTER (bloom_hit AND NOT is_member) * 20
                   <= COUNT(*) FILTER (NOT is_member) AS fp_rate_ok
        FROM verdicts
    """,
)
def q186_bloom_membership_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, cross-engine bit-for-bit: build
    a 4096-bit / 3-hash Bloom filter over high-value order keys, probe
    every distinct lineitem orderkey through it, and report exact
    true/false-positive counts against the real semi-join (false
    negatives must be 0 — Bloom's one-sided guarantee — and the
    empirical FP rate among true non-members must be ≤ 5%, checked in
    integer arithmetic). This is the primitive behind runtime join
    pruning at 100 TB: ship the O(KB) bit array to every scan task and
    skip rows/row-groups that cannot join, paying only the bounded FP
    rate in wasted reads. md5-nibble positions (q163 idiom) keep both
    engines' bit arrays identical; the filter itself is built with one
    map-combinable ``bit_or`` aggregate over ≤128 words.

    Reference has no sketch surface (SURVEY §2); completes the
    mergeable-sketch ladder HLL (q143) → CMS (q146) → KLL (q149) →
    Bloom."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    members = orders.filter(F.col("o_totalprice") > _BLOOM_PRICE).select(
        F.col("o_orderkey").alias("k")
    )
    mpos = None
    for i in range(_BLOOM_K):
        part = members.select("k", _pos_col(i, F.col("k")).alias("pos"))
        mpos = part if mpos is None else mpos.unionAll(part)
    words = mpos.groupBy((F.col("pos") / 32).cast("int").alias("word")).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), pos % 32)")).alias("bits")
    )
    probes = li.select(F.col("l_orderkey").alias("k")).distinct()
    ppos = None
    for i in range(_BLOOM_K):
        part = probes.select("k", _pos_col(i, F.col("k")).alias("pos"))
        ppos = part if ppos is None else ppos.unionAll(part)
    hits = (
        ppos.join(
            F.broadcast(words),
            (F.col("pos") / 32).cast("int") == F.col("word"),
            "left",
        )
        .select(
            "k",
            F.expr(
                "CASE WHEN (shiftright(COALESCE(bits, CAST(0 AS BIGINT)), pos % 32)"
                " & 1) = 1 THEN 1 ELSE 0 END"
            ).alias("set_bit"),
        )
        .groupBy("k")
        .agg(F.sum("set_bit").alias("n_set"))
    )
    verdicts = hits.join(
        members.withColumn("__m", F.lit(1)), "k", "left"
    ).select(
        (F.col("n_set") == _BLOOM_K).alias("bloom_hit"),
        F.col("__m").isNotNull().alias("is_member"),
    )
    return verdicts.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.count_if(F.col("is_member")).cast("long").alias("n_members"),
        F.count_if(F.col("bloom_hit")).cast("long").alias("n_bloom_hits"),
        F.count_if(F.col("bloom_hit") & ~F.col("is_member"))
        .cast("long")
        .alias("n_false_positives"),
        F.count_if(F.col("is_member") & ~F.col("bloom_hit"))
        .cast("long")
        .alias("n_false_negatives"),
        (
            F.count_if(F.col("bloom_hit") & ~F.col("is_member")) * 20
            <= F.count_if(~F.col("is_member"))
        ).alias("fp_rate_ok"),
    )


# ---------------------------------------------------------------------------
# q187 — maximum interval concurrency (sweep-line over event intervals)
# ---------------------------------------------------------------------------


@query(
    "q187_max_concurrent_intervals",
    oracle="""
        WITH pts AS (
            SELECT event_type, ts AS t, 1 AS delta FROM events
            UNION ALL
            SELECT event_type, ts + INTERVAL 5 MINUTE, -1 FROM events
        ),
        net AS (
            SELECT event_type, t, SUM(delta) AS net
            FROM pts GROUP BY 1, 2
        ),
        run AS (
            SELECT event_type, t,
                   SUM(net) OVER (PARTITION BY event_type ORDER BY t) AS conc
            FROM net
        ),
        peak AS (
            SELECT event_type, MAX(conc) AS peak_concurrency
            FROM run GROUP BY event_type
        )
        SELECT p.event_type,
               CAST(p.peak_concurrency AS BIGINT) AS peak_concurrency,
               MIN(r.t) AS peak_at
        FROM peak p JOIN run r
          ON r.event_type = p.event_type AND r.conc = p.peak_concurrency
        GROUP BY 1, 2
    """,
)
def q187_max_concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency per event type — each event held open
    for 5 minutes, sweep-line (+1 at start, −1 at end), running sum,
    max + earliest time the max is reached. The capacity-planning
    query behind connection pools and stream-state sizing (peak
    concurrent sessions = peak state entries).

    Determinism: deltas are SUMMED PER TIMESTAMP before the running
    sum (an interval ending exactly when another starts nets out), so
    the window's ORDER BY t is a total order per group and no
    tie-break ambiguity exists across engines. Scale: groupBy + one
    window per event_type partition; state is one running integer —
    the same sweep runs over any horizon. 100 TB variant: partition
    the sweep by (event_type, day) after splitting intervals at day
    boundaries (documented here; the 30-day test horizon needs none).
    """
    e = read_table(spark, sf_dir, "events")
    pts = e.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        e.select(
            "event_type",
            (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    net = pts.groupBy("event_type", "t").agg(F.sum("delta").alias("net"))
    w = Window.partitionBy("event_type").orderBy("t")
    run = net.select("event_type", "t", F.sum("net").over(w).alias("conc"))
    peak = run.groupBy("event_type").agg(F.max("conc").alias("peak_concurrency"))
    return (
        run.join(peak, "event_type")
        .filter(F.col("conc") == F.col("peak_concurrency"))
        .groupBy("event_type", F.col("peak_concurrency").cast("long").alias("peak_concurrency"))
        .agg(F.min("t").alias("peak_at"))
    )


# ---------------------------------------------------------------------------
# q188 — data-quality expectation report (deequ-style constraint suite)
# ---------------------------------------------------------------------------


@query(
    "q188_dq_expectations",
    oracle="""
        WITH o AS (
            SELECT COUNT(*) AS n,
                   COUNT(DISTINCT o_orderkey) AS n_keys,
                   COUNT(*) FILTER (o_orderstatus IN ('P','O','F')) AS n_status_ok,
                   COUNT(*) FILTER (o_totalprice >= 1000 AND o_totalprice <= 500000)
                       AS n_price_ok,
                   COUNT(o_orderdate) AS n_date
            FROM orders
        ),
        l AS (
            SELECT COUNT(*) AS n,
                   COUNT(*) FILTER (l_quantity >= 1 AND l_quantity <= 50) AS n_qty_ok,
                   COUNT(*) FILTER (l_discount >= 0 AND l_discount <= 0.1) AS n_disc_ok
            FROM lineitem
        ),
        ref AS (
            SELECT COUNT(*) AS n_orphans
            FROM lineitem
            WHERE l_orderkey IS NOT NULL
              AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        )
        SELECT 'orders' AS tbl, 'orderkey_unique' AS check_name,
               round(CAST(n_keys AS DOUBLE) / n, 6) AS metric,
               n > 0 AND n_keys = n AS passed
        FROM o
        UNION ALL SELECT 'orders', 'status_in_domain',
               round(CAST(n_status_ok AS DOUBLE) / n, 6), n > 0 AND n_status_ok = n FROM o
        UNION ALL SELECT 'orders', 'price_in_range',
               round(CAST(n_price_ok AS DOUBLE) / n, 6), n > 0 AND n_price_ok = n FROM o
        UNION ALL SELECT 'orders', 'orderdate_complete',
               round(CAST(n_date AS DOUBLE) / n, 6), n > 0 AND n_date = n FROM o
        UNION ALL SELECT 'lineitem', 'quantity_in_range',
               round(CAST(n_qty_ok AS DOUBLE) / n, 6), n > 0 AND n_qty_ok = n FROM l
        UNION ALL SELECT 'lineitem', 'discount_in_range',
               round(CAST(n_disc_ok AS DOUBLE) / n, 6), n > 0 AND n_disc_ok = n FROM l
        UNION ALL SELECT 'lineitem', 'orderkey_references_orders',
               round(1.0 - CAST(ref.n_orphans AS DOUBLE) / l.n, 6),
               l.n > 0 AND ref.n_orphans = 0
        FROM l, ref
    """,
)
def q188_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite as one report: uniqueness,
    domain membership, range, completeness, and referential-integrity
    checks over orders+lineitem, each emitting (tbl, check_name,
    metric, passed) — the deequ/Great-Expectations contract a pipeline
    gates ingestion on. Extends the reference's ad-hoc profiling
    (SURVEY §2 A9–A11, ``pre_process.py``'s isnull/distinct counts)
    into a single declarative constraint report.

    Plan: ONE conditional-aggregate pass per table (all metrics fused,
    map-side combinable — the A9 fusion rule) plus one anti-join for
    the FK check; verdicts are integer comparisons (no float
    equality). 100 TB: per-table scans dominate and fuse all checks;
    adding a check adds a column, not a pass. The suite compiles via
    :mod:`databricks_etl_spark.operators.dq` (declarative Check
    objects, one ``expect`` pass per table)."""
    from databricks_etl_spark.operators import dq

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    orders_report = dq.expect(
        o,
        "orders",
        [
            dq.unique("o_orderkey", name="orderkey_unique"),
            dq.in_domain("o_orderstatus", ["P", "O", "F"], name="status_in_domain"),
            dq.in_range("o_totalprice", 1000, 500000, name="price_in_range"),
            dq.not_null("o_orderdate", name="orderdate_complete"),
        ],
    )
    lineitem_report = dq.expect(
        li,
        "lineitem",
        [
            dq.in_range("l_quantity", 1, 50, name="quantity_in_range"),
            dq.in_range("l_discount", 0, 0.1, name="discount_in_range"),
        ],
    )
    fk = dq.expect_references(
        li, "l_orderkey", o, "o_orderkey", "lineitem",
        name="orderkey_references_orders",
    )
    return orders_report.unionAll(lineitem_report).unionAll(fk)


# ---------------------------------------------------------------------------
# q189 — CDC changelog compaction (latest-wins with tombstones)
# ---------------------------------------------------------------------------


@query(
    "q189_changelog_compaction",
    oracle="""
        WITH log AS (
            SELECT o_orderkey AS k,
                   i AS seq,
                   CASE WHEN i = o_orderkey % 3 AND o_orderkey % 7 = 0 THEN 'D'
                        WHEN i = 0 THEN 'I' ELSE 'U' END AS op,
                   round(o_totalprice + i, 2) AS price_v
            FROM orders, unnest(range(0, 1 + o_orderkey % 3)) t(i)
        ),
        latest AS (
            SELECT k, seq, op, price_v,
                   row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn,
                   COUNT(*) OVER (PARTITION BY k) AS n_versions
            FROM log
        )
        SELECT k AS o_orderkey, op AS last_op, price_v AS final_price,
               CAST(n_versions AS BIGINT) AS n_versions
        FROM latest WHERE rn = 1 AND op <> 'D'
    """,
    bench=True,
)
def q189_changelog_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog → snapshot compaction: a sequence-numbered I/U/D
    changelog (synthesized deterministically from orders: 1–3 versions
    per key, every 7th key ends in a delete tombstone) compacted to
    latest-version-wins with tombstoned keys dropped — the core of
    every incremental ingestion sink (Delta/Iceberg MERGE, Kafka
    compacted topics). Complements q98 (two-table upsert) and q76
    (SCD2 full history): this is the N-version single-stream shape.

    Plan: one window (row_number DESC over seq, partitioned by key) —
    a single shuffle on the key; at 100 TB this is the standard
    hash-partitioned compaction and the window never materializes more
    than one key's versions per task. Per-key version counts ride the
    same window (COUNT OVER), not a second aggregate."""
    o = read_table(spark, sf_dir, "orders")
    log = o.select(
        F.col("o_orderkey").alias("k"),
        F.explode(
            F.sequence(F.lit(0), (F.col("o_orderkey") % 3).cast("int"))
        ).alias("seq"),
        "o_totalprice",
    ).select(
        "k",
        "seq",
        F.when(
            (F.col("seq") == F.col("k") % 3) & (F.col("k") % 7 == 0), "D"
        )
        .when(F.col("seq") == 0, "I")
        .otherwise("U")
        .alias("op"),
        F.round(F.col("o_totalprice") + F.col("seq"), 2).alias("price_v"),
    )
    w = Window.partitionBy("k").orderBy(F.desc("seq"))
    wc = Window.partitionBy("k")
    latest = log.select(
        "k",
        "op",
        "price_v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_versions"),
    )
    return latest.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        F.col("k").alias("o_orderkey"),
        F.col("op").alias("last_op"),
        F.col("price_v").alias("final_price"),
        F.col("n_versions").cast("long").alias("n_versions"),
    )


# ---------------------------------------------------------------------------
# q190 — first/last-touch attribution
# ---------------------------------------------------------------------------


@query(
    "q190_touch_attribution",
    oracle="""
        WITH conv AS (
            SELECT user_id, MIN(ts) AS conv_ts
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        ),
        touches AS (
            SELECT e.user_id, e.event_type, e.ts, e.event_id,
                   row_number() OVER (PARTITION BY e.user_id
                                      ORDER BY e.ts, e.event_id) AS rn_first,
                   row_number() OVER (PARTITION BY e.user_id
                                      ORDER BY e.ts DESC, e.event_id DESC) AS rn_last
            FROM events e JOIN conv c
              ON e.user_id = c.user_id AND e.ts < c.conv_ts
            WHERE e.event_type <> 'purchase'
        )
        SELECT event_type,
               CAST(COUNT(*) FILTER (rn_first = 1) AS BIGINT) AS n_first_touch,
               CAST(COUNT(*) FILTER (rn_last = 1) AS BIGINT) AS n_last_touch
        FROM touches
        GROUP BY event_type
    """,
)
def q190_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution: for every user
    who purchased, credit the earliest and the latest non-purchase
    event strictly before their first purchase, rolled up by channel
    (event_type) — the two classic attribution models over the same
    window pass. Tiebreaker (ts, event_id) is total per user, so both
    row_numbers are cross-engine deterministic.

    Plan: conversion timestamps are a grouped MIN (map-combinable);
    touches join on user_id (co-partitioned with both windows'
    partition key, so the join shuffle is REUSED by the windows — one
    exchange total). At 100 TB: per-user windows, no global sort."""
    e = read_table(spark, sf_dir, "events")
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    touches = (
        e.join(conv, "user_id")
        .filter((F.col("ts") < F.col("conv_ts")) & (F.col("event_type") != "purchase"))
    )
    wf = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wl = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = touches.select(
        "event_type",
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
    )
    return ranked.groupBy("event_type").agg(
        F.count_if(F.col("rn_first") == 1).cast("long").alias("n_first_touch"),
        F.count_if(F.col("rn_last") == 1).cast("long").alias("n_last_touch"),
    )


# ---------------------------------------------------------------------------
# q191 — event-type transition matrix (first-order Markov estimate)
# ---------------------------------------------------------------------------


@query(
    "q191_event_transition_matrix",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        ),
        t AS (
            SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT prev_type, next_type,
               CAST(n_transitions AS BIGINT) AS n_transitions,
               round(CAST(n_transitions AS DOUBLE)
                     / SUM(n_transitions) OVER (PARTITION BY prev_type), 6) AS p_next
        FROM t
    """,
)
def q191_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag(event_type) within user ordered by (ts, event_id),
    transition counts, and the row-normalized transition probability —
    the behavioral model behind session simulation and anomaly scoring
    (a user whose path's likelihood under this matrix collapses is a
    bot). Deterministic: the (ts, event_id) tiebreak totals the order;
    normalization divides two exact BIGINTs once, then rounds.

    Plan: one window (user partition) + one grouped count + one
    normalize window over the 25-row matrix. 100 TB: the per-user lag
    shuffle is the only data-sized exchange."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wn = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        F.round(
            F.col("n_transitions").cast("double") / F.sum("n_transitions").over(wn), 6
        ).alias("p_next"),
    )


# ---------------------------------------------------------------------------
# q192 — decile lift table (propensity-model evaluation)
# ---------------------------------------------------------------------------


@query(
    "q192_decile_lift",
    oracle="""
        WITH buyers AS (SELECT DISTINCT o_custkey FROM orders),
        scored AS (
            SELECT c.c_custkey,
                   b.o_custkey IS NOT NULL AS bought,
                   ntile(10) OVER (ORDER BY c.c_acctbal DESC, c.c_custkey) AS decile
            FROM customer c LEFT JOIN buyers b ON c.c_custkey = b.o_custkey
        ),
        d AS (
            SELECT decile, COUNT(*) AS n,
                   COUNT(*) FILTER (bought) AS n_buyers
            FROM scored GROUP BY decile
        )
        SELECT CAST(decile AS INT) AS decile,
               CAST(n AS BIGINT) AS n_customers,
               CAST(n_buyers AS BIGINT) AS n_buyers,
               round(CAST(n_buyers AS DOUBLE) / n, 6) AS buy_rate,
               round((CAST(n_buyers AS DOUBLE) / n)
                     / (CAST(SUM(n_buyers) OVER () AS DOUBLE) / SUM(n) OVER ()),
                     6) AS lift
        FROM d
    """,
)
def q192_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table — the standard propensity-model evaluation:
    rank customers by score (acctbal as the stand-in model score,
    c_custkey tiebreak makes the ntile deterministic), split into 10
    equal-depth bins, and report each bin's buy rate against the
    population rate. Top-decile lift > 1 means the score ranks
    buyers ahead of non-buyers. Completes the ML-adjacent surface
    (per-group OLS q115, KMeans q55/q171) with the evaluation side.

    Plan: buyer flags come from a distinct + left join (broadcastable
    dim); decile assignment is the two-phase distributed rank
    (``operators.quantile_bucket.exact_ntile`` — range-partition,
    parallel per-partition sorts, literal offsets), bit-identical to
    the oracle's global ntile with no SinglePartition sort; q249's
    broadcast approx-decile twin remains the zero-materialization
    alternative; the 10-row lift arithmetic is window-over-10."""
    from databricks_etl_spark.operators.quantile_bucket import exact_ntile

    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    buyers = o.select("o_custkey").distinct()
    scored = exact_ntile(
        c.join(buyers, c["c_custkey"] == buyers["o_custkey"], "left").select(
            "c_custkey",
            "c_acctbal",
            F.col("o_custkey").isNotNull().alias("bought"),
        ),
        [F.desc("c_acctbal"), F.col("c_custkey")],
        10,
        out_col="decile",
    )
    d = scored.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.count_if(F.col("bought")).alias("n_buyers")
    )
    wall = Window.partitionBy()
    return d.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n").cast("long").alias("n_customers"),
        F.col("n_buyers").cast("long").alias("n_buyers"),
        F.round(F.col("n_buyers").cast("double") / F.col("n"), 6).alias("buy_rate"),
        F.round(
            (F.col("n_buyers").cast("double") / F.col("n"))
            / (
                F.sum("n_buyers").over(wall).cast("double")
                / F.sum("n").over(wall)
            ),
            6,
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# q193 — cosine similarity threshold join (exact audit rung)
# ---------------------------------------------------------------------------

@query(
    "q193_cosine_threshold_join",
    oracle=f"""
        WITH q AS (SELECT vec_id AS id_a, embedding AS qe FROM embeddings
                   WHERE vec_id < 50),
             c AS (SELECT vec_id AS id_b, embedding AS ce FROM embeddings),
             s AS (
                SELECT id_a, id_b,
                       round({_dot_sql('qe', 'ce')}
                             / (sqrt({_dot_sql('qe', 'qe')})
                                * sqrt({_dot_sql('ce', 'ce')})), 6)
                           AS cosine_sim
                FROM q, c WHERE id_a < id_b
             )
        SELECT id_a, id_b, cosine_sim FROM s WHERE cosine_sim >= 0.35
    """,
)
def q193_cosine_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity THRESHOLD join (all pairs above τ), the set-valued
    sibling of top-k (q47): for a bounded audit set of vectors
    (vec_id < 50, broadcast), every corpus vector within cosine ≥
    0.35. Same bit-exact sequential-fold cosine as q47, so the driver
    hash-checks the join's value semantics exactly. This is the exact
    verification rung under the LSH near-dup path (q63): production
    runs LSH candidates → this exact predicate; the audit query runs
    the exact predicate alone on a sampled query set to measure the
    LSH path's recall (the q145 gate does exactly that for top-k).

    Scale: broadcast-nested-loop with a BOUNDED query side — linear
    in corpus, embarrassingly parallel; never an unbounded self-join
    (the all-pairs variant is explicitly TEST-ONLY,
    similarity.py:277)."""
    from databricks_etl_spark.operators.similarity import (
        norm,
        paired_cosine,
    )

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("ce"))
    s = (
        F.broadcast(q.withColumn("__qn", norm(F.col("qe"))))
        .join(
            c.withColumn("__cn", norm(F.col("ce"))),
            F.col("id_a") < F.col("id_b"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                paired_cosine(
                    F.col("qe"), F.col("ce"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    return s.filter(F.col("cosine_sim") >= 0.35)


# ---------------------------------------------------------------------------
# q194 — late-arrival audit (watermark sizing)
# ---------------------------------------------------------------------------


@query(
    "q194_late_arrival_audit",
    oracle="""
        WITH arr AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
                   MAX(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY event_type ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS hwm_s
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(*) FILTER (hwm_s - ts_s > 60) AS BIGINT) AS n_late,
               CAST(COALESCE(MAX(CASE WHEN hwm_s - ts_s > 0
                                      THEN hwm_s - ts_s END), 0) AS BIGINT)
                   AS max_late_s
        FROM arr
        GROUP BY event_type
    """,
)
def q194_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data audit for watermark sizing: replay events in arrival
    order (event_id is the ingestion sequence), track the per-type
    event-time high-water mark, and measure how far behind it each
    event arrives — n_late (> 60 s behind) and the worst lateness.
    This is THE query that chooses ``withWatermark`` delays for the
    streaming lane (q80/q128/q131): a 60 s watermark would drop
    exactly n_late rows. Second-floored epoch diffs (the q81 rule)
    keep the arithmetic integer and cross-engine exact.

    Plan: one running-max window per event_type partition + fused
    conditional aggregates. 100 TB: arrival order is per-partition
    monotone in real ingestion, so the window partitions by (type,
    ingest shard) and never globally sorts."""
    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = e.select(
        "event_type",
        F.unix_timestamp("ts").alias("ts_s"),
        F.max(F.unix_timestamp("ts")).over(w).alias("hwm_s"),
    )
    late = F.col("hwm_s") - F.col("ts_s")
    return arr.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_if(late > 60).cast("long").alias("n_late"),
        F.coalesce(F.max(F.when(late > 0, late)), F.lit(0))
        .cast("long")
        .alias("max_late_s"),
    )


# ---------------------------------------------------------------------------
# q195 — snapshot diff (data-diff between table versions)
# ---------------------------------------------------------------------------


@query(
    "q195_snapshot_diff",
    oracle="""
        WITH old AS (
            SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
            FROM orders WHERE o_orderkey % 10 <> 3
        ),
        new AS (
            SELECT o_orderkey AS k,
                   round(o_totalprice
                         + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END, 2) AS price,
                   CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END
                       AS status
            FROM orders WHERE o_orderkey % 10 <> 7
        ),
        d AS (
            SELECT COALESCE(o.k, n.k) AS k,
                   CASE WHEN o.k IS NULL THEN 'added'
                        WHEN n.k IS NULL THEN 'removed'
                        WHEN o.price <> n.price OR o.status <> n.status
                            THEN 'changed'
                        ELSE 'unchanged' END AS diff_status,
                   CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                             AND o.price <> n.price THEN 1 ELSE 0 END AS price_chg,
                   CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                             AND o.status <> n.status THEN 1 ELSE 0 END AS status_chg
            FROM old o FULL OUTER JOIN new n ON o.k = n.k
        )
        SELECT diff_status,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(price_chg) AS BIGINT) AS n_price_changed,
               CAST(SUM(status_chg) AS BIGINT) AS n_status_changed
        FROM d GROUP BY diff_status
    """,
)
def q195_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot data-diff: full-outer join two versions of a table on
    the primary key and classify every key as added / removed /
    changed / unchanged, with per-column change counts — the
    regression report run between pipeline versions before promoting
    an output (the data-diff tool pattern). The two versions are
    synthesized deterministically from orders (disjoint key drops on
    each side, a price bump every 5th key, a status rewrite every
    13th).

    Plan: one full-outer hash join on the key + fused conditional
    aggregates; at 100 TB both sides partition on the key and the
    diff is a co-partitioned merge, no second shuffle."""
    o = read_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 10 != 3).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    new = o.filter(F.col("o_orderkey") % 10 != 7).select(
        F.col("o_orderkey").alias("k"),
        F.round(
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 5 == 0, 1).otherwise(0),
            2,
        ).alias("price"),
        F.when(F.col("o_orderkey") % 13 == 0, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
    )
    j = old.alias("o").join(new.alias("n"), F.col("o.k") == F.col("n.k"), "full_outer")
    both = F.col("o.k").isNotNull() & F.col("n.k").isNotNull()
    d = j.select(
        F.when(F.col("o.k").isNull(), "added")
        .when(F.col("n.k").isNull(), "removed")
        .when(
            (F.col("o.price") != F.col("n.price"))
            | (F.col("o.status") != F.col("n.status")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("diff_status"),
        F.when(both & (F.col("o.price") != F.col("n.price")), 1)
        .otherwise(0)
        .alias("price_chg"),
        F.when(both & (F.col("o.status") != F.col("n.status")), 1)
        .otherwise(0)
        .alias("status_chg"),
    )
    return d.groupBy("diff_status").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("price_chg").cast("long").alias("n_price_changed"),
        F.sum("status_chg").cast("long").alias("n_status_changed"),
    )


# ---------------------------------------------------------------------------
# q196 — token co-occurrence lift (log-free PMI)
# ---------------------------------------------------------------------------

_Q196_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"


@query(
    "q196_token_association_lift",
    oracle=f"""
        WITH pres AS (
            SELECT DISTINCT doc_id, tok
            FROM (SELECT doc_id, unnest({_Q196_TOKS}) AS tok FROM documents)
        ),
        df AS (SELECT tok, COUNT(*) AS n_docs FROM pres GROUP BY tok),
        top AS (
            SELECT tok, n_docs,
                   row_number() OVER (ORDER BY n_docs DESC, tok) AS r
            FROM df
        ),
        top50 AS (SELECT tok, n_docs FROM top WHERE r <= 50),
        p AS (
            SELECT pr.doc_id, pr.tok, t.n_docs
            FROM pres pr JOIN top50 t ON pr.tok = t.tok
        ),
        pairs AS (
            SELECT a.tok AS tok_a, b.tok AS tok_b,
                   MIN(a.n_docs) AS n_a, MIN(b.n_docs) AS n_b,
                   COUNT(*) AS n_both
            FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY 1, 2
        ),
        total AS (SELECT COUNT(*) AS n FROM documents),
        lifted AS (
            SELECT tok_a, tok_b,
                   CAST(n_both AS BIGINT) AS n_both,
                   round(CAST(n_both AS DOUBLE) * total.n / (n_a * n_b), 6) AS lift
            FROM pairs, total WHERE n_both >= 5
        )
        SELECT tok_a, tok_b, n_both, lift,
               CAST(row_number() OVER (ORDER BY lift DESC, tok_a, tok_b) AS BIGINT)
                   AS rank
        FROM lifted
        QUALIFY rank <= 20
    """,
)
def q196_token_association_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence association as LIFT — P(a,b)/(P(a)P(b))
    over document-level presence, the log-free core of PMI (log is
    monotone, so lift ranks pairs identically to PMI while keeping the
    arithmetic a single exact-integer ratio — no cross-engine libm
    log). Top-20 associated pairs among the 50 highest-document-
    frequency tokens: collocation mining for tokenizer/boilerplate
    diagnostics (a pair with lift ≈ 1/P(a) is a glued phrase).

    Scale: the vocabulary is CAPPED (top-50 by document frequency,
    deterministic ties) and broadcast, so per-doc candidate pairs are
    bounded by C(50,2) — linear in corpus, never vocab². One grouped
    count per pair; the final top-20 is a 20-row window."""
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    pres = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("tok")
    ).distinct()
    df_ = pres.groupBy("tok").agg(F.count(F.lit(1)).alias("n_docs"))
    top50 = (
        df_.select(
            "tok",
            "n_docs",
            F.row_number()
            .over(Window.orderBy(F.desc("n_docs"), F.col("tok")))
            .alias("r"),
        )
        .filter(F.col("r") <= 50)
        .drop("r")
    )
    p = pres.join(F.broadcast(top50), "tok")
    a = p.select(
        F.col("doc_id"), F.col("tok").alias("tok_a"), F.col("n_docs").alias("n_a")
    )
    b = p.select(
        F.col("doc_id"), F.col("tok").alias("tok_b"), F.col("n_docs").alias("n_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(
            F.min("n_a").alias("n_a"),
            F.min("n_b").alias("n_b"),
            F.count(F.lit(1)).alias("n_both"),
        )
        .filter(F.col("n_both") >= 5)
    )
    total = d.agg(F.count(F.lit(1)).alias("n"))
    lifted = pairs.crossJoin(F.broadcast(total)).select(  # 1-row total broadcast
        "tok_a",
        "tok_b",
        F.col("n_both").cast("long").alias("n_both"),
        F.round(
            F.col("n_both").cast("double") * F.col("n") / (F.col("n_a") * F.col("n_b")),
            6,
        ).alias("lift"),
    )
    return (
        lifted.select(
            "tok_a",
            "tok_b",
            "n_both",
            "lift",
            F.row_number()
            .over(Window.orderBy(F.desc("lift"), "tok_a", "tok_b"))
            .cast("long")
            .alias("rank"),
        )
        .filter(F.col("rank") <= 20)
    )


# ---------------------------------------------------------------------------
# q197 — integer-weight EWMA smoothing (exact-arithmetic time series)
# ---------------------------------------------------------------------------


@query(
    "q197_ewma_revenue",
    oracle="""
        WITH daily AS (
            SELECT o_orderpriority AS priority, o_orderdate AS day,
                   SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
            FROM orders GROUP BY 1, 2
        ),
        lagged AS (
            SELECT priority, day, rev,
                   lag(rev, 1) OVER w AS r1, lag(rev, 2) OVER w AS r2,
                   lag(rev, 3) OVER w AS r3, lag(rev, 4) OVER w AS r4
            FROM daily
            WINDOW w AS (PARTITION BY priority ORDER BY day)
        )
        SELECT priority, day,
               CAST(rev AS DOUBLE) AS daily_rev,
               round(CAST(16 * rev + 8 * COALESCE(r1, 0) + 4 * COALESCE(r2, 0)
                          + 2 * COALESCE(r3, 0) + COALESCE(r4, 0) AS DOUBLE)
                     / (16 + CASE WHEN r1 IS NULL THEN 0 ELSE 8 END
                           + CASE WHEN r2 IS NULL THEN 0 ELSE 4 END
                           + CASE WHEN r3 IS NULL THEN 0 ELSE 2 END
                           + CASE WHEN r4 IS NULL THEN 0 ELSE 1 END), 6) AS ewma
        FROM lagged
    """,
)
def q197_ewma_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue per
    order priority — the trailing-window smoother behind every metrics
    dashboard — built with EXACT arithmetic so it cross-engine
    hash-matches: weights are the dyadic ladder 16/8/4/2/1 over the
    last five days, revenue terms stay DECIMAL through the weighted
    sum (integer × decimal is exact), and the single double division
    happens once at the end (the q130 exact-arithmetic rule; a
    float-recursive ewma(t) = αx + (1−α)ewma(t−1) would accumulate
    engine-order error and can never hash-match). Warm-up days
    renormalize over the weights actually present.

    Plan: one grouped decimal sum + one 4-lag window per priority
    partition — a 100 TB-safe per-key series pass, no global sort."""
    from databricks_etl_spark.functions.scalars import MONEY

    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("day"),
    ).agg(F.sum(F.col("o_totalprice").cast(MONEY)).alias("rev"))
    w = Window.partitionBy("priority").orderBy("day")
    lagged = daily.select(
        "priority",
        "day",
        "rev",
        *[F.lag("rev", k).over(w).alias(f"r{k}") for k in (1, 2, 3, 4)],
    )
    num = (
        16 * F.col("rev")
        + 8 * F.coalesce(F.col("r1"), F.lit(0))
        + 4 * F.coalesce(F.col("r2"), F.lit(0))
        + 2 * F.coalesce(F.col("r3"), F.lit(0))
        + F.coalesce(F.col("r4"), F.lit(0))
    )
    den = (
        F.lit(16)
        + F.when(F.col("r1").isNull(), 0).otherwise(8)
        + F.when(F.col("r2").isNull(), 0).otherwise(4)
        + F.when(F.col("r3").isNull(), 0).otherwise(2)
        + F.when(F.col("r4").isNull(), 0).otherwise(1)
    )
    return lagged.select(
        "priority",
        "day",
        F.col("rev").cast("double").alias("daily_rev"),
        F.round(num.cast("double") / den, 6).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# q198 — rank-based quantile normalization (feature scaling)
# ---------------------------------------------------------------------------


@query(
    "q198_quantile_normalization",
    oracle="""
        WITH r AS (
            SELECT c_custkey, c_mktsegment,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal, c_custkey) AS rk,
                   COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
            FROM customer
        )
        SELECT c_custkey, c_mktsegment,
               round(CASE WHEN n > 1
                          THEN CAST(rk - 1 AS DOUBLE) / (n - 1) END, 6) AS qnorm
        FROM r
    """,
)
def q198_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization of a feature within groups: each
    customer's account balance mapped to its empirical quantile in
    [0, 1] within its market segment — the distribution-free feature
    scaling used before training when raw scales are incomparable
    across segments. (c_acctbal, c_custkey) tiebreak totals the order,
    so ranks — and therefore every output value — are cross-engine
    deterministic; the only float op is one division, rounded.

    Plan: one rank window per segment partition (no global sort); at
    100 TB segments partition the shuffle and the transform stays one
    exchange. Single-row groups emit NULL (undefined quantile), same
    CASE both engines."""
    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_mktsegment")
    r = c.select(
        "c_custkey",
        "c_mktsegment",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.select(
        "c_custkey",
        "c_mktsegment",
        F.round(
            F.when(
                F.col("n") > 1,
                (F.col("rk") - 1).cast("double") / (F.col("n") - 1),
            ),
            6,
        ).alias("qnorm"),
    )


# ---------------------------------------------------------------------------
# q199 — partition manifest statistics (data-skipping file stats)
# ---------------------------------------------------------------------------


@query(
    "q199_partition_manifest",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INT) AS part_year,
               CAST(month(o_orderdate) AS INT) AS part_month,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price,
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
               MAX(o_totalprice) < 490000 AS prunable_for_highvalue
        FROM orders
        GROUP BY 1, 2
    """,
)
def q199_partition_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-manifest statistics — the min/max/count column stats
    a lakehouse table format (Delta/Iceberg manifests, parquet
    row-group footers) keeps per partition for data skipping, computed
    as a table: one row per (year, month) partition of orders with key
    and price bounds plus a concrete skipping verdict
    (``prunable_for_highvalue``: a ``price > 490k`` scan — q186's
    Bloom member set — can skip this partition entirely). Together
    with q148 (Z-order pruning proven in the physical plan) this
    covers data skipping from both ends: q148 proves Spark PRUNES,
    this produces the stats a planner prunes WITH.

    Plan: one grouped aggregate, all stats fused and map-combinable
    (min/max/count/distinct-status); at 100 TB this is the manifest-
    build job that runs per written partition."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("int").alias("part_year"),
        F.month("o_orderdate").cast("int").alias("part_month"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.count_distinct("o_orderstatus").cast("long").alias("n_statuses"),
        (F.max("o_totalprice") < 490000).alias("prunable_for_highvalue"),
    )


# ---------------------------------------------------------------------------
# q200 — Gini concentration of supplier revenue
# ---------------------------------------------------------------------------


@query(
    "q200_gini_concentration",
    oracle="""
        WITH srev AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(28,6))) AS rev
            FROM lineitem GROUP BY l_suppkey
        ),
        ranked AS (
            SELECT rev,
                   row_number() OVER (ORDER BY rev, l_suppkey) AS i,
                   COUNT(*) OVER () AS n
            FROM srev
        ),
        tops AS (
            SELECT SUM(rev) AS top10_rev
            FROM (SELECT rev FROM srev ORDER BY rev DESC, l_suppkey LIMIT 10)
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_suppliers,
               CAST(SUM(rev) AS DOUBLE) AS total_rev,
               round(2.0 * CAST(SUM(i * rev) AS DOUBLE)
                     / (MAX(n) * CAST(SUM(rev) AS DOUBLE))
                     - (MAX(n) + 1.0) / MAX(n), 6) AS gini,
               round(CAST((SELECT top10_rev FROM tops) AS DOUBLE)
                     / CAST(SUM(rev) AS DOUBLE), 6) AS top10_share
        FROM ranked
    """,
)
def q200_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-revenue concentration: the Gini coefficient (via the
    exact rank formula G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over revenues
    sorted ascending) plus the top-10 revenue share — the inequality
    metrics a marketplace health report tracks. All sums are DECIMAL
    (i·xᵢ is int × decimal, exact and order-independent); ties in
    revenue are rank-order-invariant in Σ i·xᵢ (equal x swaps change
    nothing), so the suppkey tiebreak is belt-and-braces.

    Plan: grouped decimal revenue, one rank window over the ~supplier-
    count rows (small after aggregation — the window input is
    |suppliers|, not |lineitem|), and a 10-row top-k. 100 TB: lineitem
    aggregates map-side first; only supplier-cardinality data sorts."""
    from databricks_etl_spark.functions.scalars import MONEY

    li = read_table(spark, sf_dir, "lineitem")
    srev = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(MONEY)
        ).alias("rev")
    )
    w = Window.orderBy("rev", "l_suppkey")
    ranked = srev.select(
        "rev",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    top10 = (
        srev.orderBy(F.desc("rev"), "l_suppkey")
        .limit(10)
        .agg(F.sum("rev").alias("top10_rev"))
    )
    agg = ranked.agg(
        F.max("n").cast("long").alias("n_suppliers"),
        F.sum("rev").cast("double").alias("total_rev"),
        F.sum(F.col("i") * F.col("rev")).alias("sum_i_rev"),
        F.max("n").alias("n_raw"),
    )
    return agg.crossJoin(F.broadcast(top10)).select(  # 1-row aggregates
        "n_suppliers",
        "total_rev",
        F.round(
            2.0 * F.col("sum_i_rev").cast("double")
            / (F.col("n_raw") * F.col("total_rev"))
            - (F.col("n_raw") + 1.0) / F.col("n_raw"),
            6,
        ).alias("gini"),
        F.round(
            F.col("top10_rev").cast("double") / F.col("total_rev"), 6
        ).alias("top10_share"),
    )


# ---------------------------------------------------------------------------
# q201 — seasonality index (month-of-year decomposition)
# ---------------------------------------------------------------------------


@query(
    "q201_seasonality_index",
    oracle="""
        WITH monthly AS (
            SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
                   SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
            FROM orders GROUP BY 1, 2
        ),
        stats AS (
            SELECT CAST(SUM(rev) AS DOUBLE) AS total,
                   COUNT(*) AS n_months
            FROM monthly
        )
        SELECT CAST(m AS INT) AS month_of_year,
               CAST(COUNT(*) AS BIGINT) AS n_years,
               CAST(SUM(rev) AS DOUBLE) AS month_rev,
               round((CAST(SUM(rev) AS DOUBLE) / COUNT(*))
                     / ((SELECT total FROM stats)
                        / (SELECT n_months FROM stats)), 6) AS seasonal_index
        FROM monthly
        GROUP BY m
    """,
)
def q201_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index: average monthly revenue for
    each calendar month divided by the overall monthly average — the
    classical multiplicative-decomposition seasonal factor (index 1.1
    = that month runs 10% hot), used to deseasonalize forecasts.
    Decimal month sums; the index is a ratio of two exact-input
    averages computed with identical IEEE ops on both engines, then
    rounded.

    Plan: two grouped aggregates (year-month, then month) + a 1-row
    overall stat broadcast — all map-combinable; nothing scales past
    |months|."""
    from databricks_etl_spark.functions.scalars import MONEY

    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast(MONEY)).alias("rev"))
    stats = monthly.agg(
        F.sum("rev").cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_months"),
    )
    bym = monthly.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_years"), F.sum("rev").alias("mrev")
    )
    return bym.crossJoin(F.broadcast(stats)).select(  # 1-row overall stats
        F.col("m").cast("int").alias("month_of_year"),
        F.col("n_years").cast("long").alias("n_years"),
        F.col("mrev").cast("double").alias("month_rev"),
        F.round(
            (F.col("mrev").cast("double") / F.col("n_years"))
            / (F.col("total") / F.col("n_months")),
            6,
        ).alias("seasonal_index"),
    )


# ---------------------------------------------------------------------------
# q202 — weighted Bernoulli sampling with Horvitz-Thompson estimate
# ---------------------------------------------------------------------------


@query(
    "q202_weighted_sample_ht",
    oracle="""
        WITH keyed AS (
            SELECT l_returnflag, l_quantity,
                   ((l_orderkey * 10 + l_linenumber) % 1000000007) * 48271
                       % 1000000007 % 500 AS bucket
            FROM lineitem
        )
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(COUNT(*) FILTER (bucket < l_quantity * 10) AS BIGINT)
                   AS n_sampled,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                   AS exact_total_qty,
               CAST(COUNT(*) FILTER (bucket < l_quantity * 10) * 50 AS BIGINT)
                   AS ht_total_qty,
               round((COUNT(*) FILTER (bucket < l_quantity * 10) * 50
                      - CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE))
                     / CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE),
                     6) AS ht_rel_err
        FROM keyed
        GROUP BY l_returnflag
    """,
)
def q202_weighted_sample_ht(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli sampling, deterministic and cross-engine:
    each lineitem survives with probability proportional to its
    quantity (p = qty/50), decided by the portable MINSTD hash of its
    (orderkey, linenumber) key against an integer threshold — the
    same row set on any engine or partitioning (the q125 portability
    contract, extended from uniform to weighted). The Horvitz-
    Thompson estimator Σ qty/p = 50·|sample| then reconstructs total
    quantity from the sample alone; the report shows the HT estimate
    landing within a few percent of the exact decimal total — the
    math a pipeline trusts when it trains on a weighted subsample.

    Plan: scan-local filter (no shuffle to sample) + one grouped
    aggregate. 100 TB: identical — sampling never shuffles."""
    from databricks_etl_spark.functions.scalars import MONEY
    from databricks_etl_spark.operators.sampling import hash_bucket

    li = read_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        "l_returnflag",
        "l_quantity",
        hash_bucket(
            F.col("l_orderkey") * 10 + F.col("l_linenumber"), 500
        ).alias("bucket"),
    )
    sampled = F.col("bucket") < F.col("l_quantity") * 10
    exact = F.sum(F.col("l_quantity").cast(MONEY)).cast("double")
    ht = F.count_if(sampled) * 50
    return keyed.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.count_if(sampled).cast("long").alias("n_sampled"),
        exact.alias("exact_total_qty"),
        ht.cast("long").alias("ht_total_qty"),
        F.round((ht - exact) / exact, 6).alias("ht_rel_err"),
    )


# ---------------------------------------------------------------------------
# q203 — conversion-latency quantiles (signup → first purchase)
# ---------------------------------------------------------------------------


@query(
    "q203_conversion_latency",
    oracle="""
        WITH s AS (
            SELECT user_id, MIN(ts) AS signup_ts
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        p AS (
            SELECT s.user_id,
                   MIN(e.ts) AS purchase_ts
            FROM s JOIN events e
              ON e.user_id = s.user_id AND e.event_type = 'purchase'
             AND e.ts >= s.signup_ts
            GROUP BY s.user_id
        ),
        gaps AS (
            SELECT CAST(floor(epoch(p.purchase_ts)) AS BIGINT)
                   - CAST(floor(epoch(s.signup_ts)) AS BIGINT) AS gap_s
            FROM s JOIN p ON s.user_id = p.user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
               CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
               quantile_cont(gap_s, 0.5) AS median_gap_s,
               quantile_cont(gap_s, 0.9) AS p90_gap_s,
               CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
        FROM gaps
    """,
)
def q203_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per user, the gap between
    first signup and first subsequent purchase; min / median / p90 /
    max across converting users — the activation-funnel latency report
    (p90 tells growth how long to wait before calling a cohort cold).
    Second-floored epoch gaps (q81 rule) keep the input integers;
    percentile interpolation on BIGINTs matches DuckDB's
    ``quantile_cont`` exactly (q81 precedent).

    Plan: two grouped MINs on the user key (co-partitioned joins) +
    one 1-row aggregate; the quantile runs over |converted users|."""
    e = read_table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    gaps = s.join(p, "user_id").select(
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("signup_ts")
        ).alias("gap_s")
    )
    return gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.min("gap_s").cast("long").alias("min_gap_s"),
        F.expr("percentile(gap_s, 0.5)").alias("median_gap_s"),
        F.expr("percentile(gap_s, 0.9)").alias("p90_gap_s"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
    )


# ---------------------------------------------------------------------------
# q204 — week-over-week revenue delta per nation
# ---------------------------------------------------------------------------


@query(
    "q204_wow_revenue_delta",
    oracle="""
        WITH weekly AS (
            SELECT n.n_name,
                   CAST(date_trunc('week', o.o_orderdate) AS TIMESTAMP) AS week,
                   SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS rev
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2
        )
        SELECT n_name, week,
               CAST(rev AS DOUBLE) AS weekly_rev,
               round(CASE WHEN lag(rev) OVER w IS NOT NULL
                          THEN 100.0 * CAST(rev - lag(rev) OVER w AS DOUBLE)
                               / CAST(lag(rev) OVER w AS DOUBLE) END, 6)
                   AS wow_delta_pct
        FROM weekly
        WINDOW w AS (PARTITION BY n_name ORDER BY week)
    """,
)
def q204_wow_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue change per nation — the reporting
    staple (weekly rollup + lag + percent delta). Weeks come from
    ``date_trunc('week', ·)`` (Monday-start on both engines, emitted
    as TIMESTAMP per the determinism rules); revenue sums are
    decimal; the percent delta is one double division on exact
    decimal inputs, rounded. First week of each nation is NULL (no
    prior), same CASE both sides.

    Plan: broadcast nation, one shuffle for the (nation, week)
    aggregate, one lag window over the aggregated series (|weeks| per
    nation, tiny). 100 TB: the aggregate is map-combinable and the
    window input is already reduced."""
    from databricks_etl_spark.functions.scalars import MONEY

    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    weekly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "n_name", F.date_trunc("week", "o_orderdate").alias("week")
        )
        .agg(F.sum(F.col("o_totalprice").cast(MONEY)).alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy("week")
    prev = F.lag("rev").over(w)
    return weekly.select(
        "n_name",
        "week",
        F.col("rev").cast("double").alias("weekly_rev"),
        F.round(
            F.when(
                prev.isNotNull(),
                100.0 * (F.col("rev") - prev).cast("double") / prev.cast("double"),
            ),
            6,
        ).alias("wow_delta_pct"),
    )


# ---------------------------------------------------------------------------
# q205/q206 — Spark 4 SQL-surface lane: recursive CTE + LATERAL join.
# One source string, two engines (the q137 sql-lane pattern): the
# EXACT text the DuckDB oracle runs also goes through spark.sql.
# ---------------------------------------------------------------------------

_Q205_SQL = """
        WITH RECURSIVE h(c_custkey, root_key, depth) AS (
            SELECT c_custkey, c_custkey AS root_key, 0 AS depth
            FROM {customer} WHERE c_custkey < 10
            UNION ALL
            SELECT c.c_custkey, h.root_key, h.depth + 1
            FROM {customer} c
            JOIN h ON CAST(floor(c.c_custkey / 10) AS BIGINT) = h.c_custkey
            WHERE c.c_custkey >= 10
        )
        SELECT c_custkey, CAST(root_key AS BIGINT) AS root_key,
               CAST(depth AS INT) AS depth
        FROM h
"""


@query("q205_recursive_hierarchy", oracle=_Q205_SQL.format(customer="customer"))
def q205_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE) walking a synthetic
    reporting hierarchy: parent(custkey) = floor(custkey/10), roots
    below 10 — every customer annotated with its root and depth, the
    org-chart / BOM-explosion query shape relational engines
    historically could not express without driver loops. Same source
    text runs through spark.sql and DuckDB (q137 sql-lane pattern), so
    the recursion SEMANTICS (not a re-implementation) are what's
    hash-checked. Complements the manual iterative operators (connected
    components q123, PageRank q169) with the declarative form.

    Scale: each iteration is one equi-join of the frontier against the
    base relation — Spark executes exactly the loop q123 hand-rolls,
    depth here is ≤ 4 and the frontier shrinks geometrically."""
    view = "cust_q205"
    read_table(spark, sf_dir, "customer").createOrReplaceTempView(view)
    return spark.sql(_Q205_SQL.format(customer=view))


_Q206_SQL = """
        SELECT n.n_name, t.c_custkey, t.c_acctbal, CAST(t.rnk AS INT) AS rnk
        FROM {nation} n, LATERAL (
            SELECT c_custkey, c_acctbal,
                   row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rnk
            FROM {customer} c WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey LIMIT 3
        ) t
"""


@query("q206_lateral_topk", oracle=_Q206_SQL.format(nation="nation", customer="customer"))
def q206_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT: top-3
    customers by balance per nation, written as the for-each-row join
    SQL users reach for — and decorrelated by Catalyst into the same
    ranked-window plan the DataFrame formulation (q75) produces.
    Identical text on both engines; (c_acctbal DESC, c_custkey)
    totals the order so rank and row set are deterministic.

    Scale: decorrelation turns the per-row subquery into one
    partitioned window over customer — no N-queries re-execution."""
    cv, nv = "cust_q206", "nat_q206"
    read_table(spark, sf_dir, "customer").createOrReplaceTempView(cv)
    read_table(spark, sf_dir, "nation").createOrReplaceTempView(nv)
    return spark.sql(_Q206_SQL.format(nation=nv, customer=cv))


# ---------------------------------------------------------------------------
# q207 — higher moments from raw power sums (skewness/kurtosis)
# ---------------------------------------------------------------------------


@query(
    "q207_higher_moments",
    oracle="""
        WITH s AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
                        AS DOUBLE) AS s2,
                   CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                                 AS DECIMAL(28,6))) AS DOUBLE) AS s3,
                   CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity
                                 AS DECIMAL(28,6))) AS DOUBLE) AS s4
            FROM lineitem GROUP BY l_returnflag
        ),
        m AS (
            SELECT l_returnflag, n,
                   s1 / n AS mean,
                   s2 / n - (s1 / n) * (s1 / n) AS var_pop,
                   s3 / n - 3 * (s1 / n) * (s2 / n)
                          + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
                   s4 / n - 4 * (s1 / n) * (s3 / n)
                          + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                          - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
            FROM s
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n,
               round(mean, 6) AS mean,
               round(var_pop, 6) AS var_pop,
               round(m3 / (var_pop * sqrt(var_pop)), 6) AS skewness,
               round(m4 / (var_pop * var_pop) - 3, 6) AS excess_kurtosis
        FROM m
    """,
)
def q207_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis from RAW POWER SUMS
    (Σx..Σx⁴ in exact decimal, central moments assembled at the end) —
    the one-pass, map-combinable distribution profile a feature store
    computes per column at 100 TB (engines' built-in ``skewness`` /
    ``kurtosis`` differ in sample-vs-population convention across
    engines, so the portable form IS the raw-moment form). Every
    division happens on exact-decimal-derived doubles in the same
    expression order on both engines; x⁴ ≤ 50⁴ stays integral in
    double, so the power sums are exact.

    Plan: ONE grouped aggregate, four fused decimal sums — identical
    shuffle profile to a plain SUM."""
    from databricks_etl_spark.functions.scalars import MONEY

    li = read_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(MONEY)).cast("double").alias("s1"),
        F.sum((x * x).cast(MONEY)).cast("double").alias("s2"),
        F.sum((x * x * x).cast(MONEY)).cast("double").alias("s3"),
        F.sum((x * x * x * x).cast(MONEY)).cast("double").alias("s4"),
    )
    mean = F.col("s1") / F.col("n")
    var_pop = F.col("s2") / F.col("n") - mean * mean
    m3 = (
        F.col("s3") / F.col("n")
        - 3 * mean * (F.col("s2") / F.col("n"))
        + 2 * mean * mean * mean
    )
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * mean * (F.col("s3") / F.col("n"))
        + 6 * mean * mean * (F.col("s2") / F.col("n"))
        - 3 * mean * mean * mean * mean
    )
    m = s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        mean.alias("mean"),
        var_pop.alias("var_pop"),
        m3.alias("m3"),
        m4.alias("m4"),
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round("mean", 6).alias("mean"),
        F.round("var_pop", 6).alias("var_pop"),
        F.round(
            F.col("m3") / (F.col("var_pop") * F.sqrt(F.col("var_pop"))), 6
        ).alias("skewness"),
        F.round(
            F.col("m4") / (F.col("var_pop") * F.col("var_pop")) - 3, 6
        ).alias("excess_kurtosis"),
    )


# ---------------------------------------------------------------------------
# q208 — chi-square independence contingency (event type × weekday)
# ---------------------------------------------------------------------------


@query(
    "q208_chisq_contingency",
    oracle="""
        WITH obs AS (
            SELECT event_type, dayofweek(ts) AS dow_sun0, COUNT(*) AS o
            FROM events GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, dow_sun0, o,
                   SUM(o) OVER (PARTITION BY event_type) AS row_tot,
                   SUM(o) OVER (PARTITION BY dow_sun0) AS col_tot,
                   SUM(o) OVER () AS n
            FROM obs
        )
        SELECT event_type, CAST(dow_sun0 AS INT) AS dow_sun0,
               CAST(o AS BIGINT) AS observed,
               round(CAST(row_tot AS DOUBLE) * col_tot / n, 6) AS expected,
               round((o - CAST(row_tot AS DOUBLE) * col_tot / n)
                     * (o - CAST(row_tot AS DOUBLE) * col_tot / n)
                     / (CAST(row_tot AS DOUBLE) * col_tot / n), 6) AS chisq_contrib
        FROM tot
    """,
)
def q208_chisq_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence contingency for event type × weekday:
    observed counts, expected-under-independence counts (row·col/n)
    and each cell's χ² contribution — the seasonality-vs-channel
    dependence screen an events pipeline runs before trusting a
    day-of-week feature. Marginals ride window sums over the 35-cell
    aggregate (integers, exact); each cell does the identical double
    arithmetic on both engines. Weekday is Sunday-0 on both (Spark
    ``dayofweek`` is 1-based → minus 1, the q181 dow rule).

    Plan: one grouped count (map-combinable) + windows over 35 rows."""
    e = read_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", (F.dayofweek("ts") - 1).alias("dow_sun0")
    ).agg(F.count(F.lit(1)).alias("o"))
    tot = obs.select(
        "event_type",
        "dow_sun0",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("dow_sun0")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    expected = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    return tot.select(
        "event_type",
        F.col("dow_sun0").cast("int").alias("dow_sun0"),
        F.col("o").cast("long").alias("observed"),
        F.round(expected, 6).alias("expected"),
        F.round((F.col("o") - expected) * (F.col("o") - expected) / expected, 6).alias(
            "chisq_contrib"
        ),
    )


# ---------------------------------------------------------------------------
# q209 — ordered string aggregation (canonical list serialization)
# ---------------------------------------------------------------------------


@query(
    "q209_string_agg_ordered",
    oracle="""
        WITH r AS (
            SELECT c_mktsegment, c_name,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_name, c_custkey) AS rk
            FROM customer
        )
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_listed,
               string_agg(c_name, ',' ORDER BY c_name) AS first5_names
        FROM r WHERE rk <= 5
        GROUP BY c_mktsegment
    """,
)
def q209_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED string aggregation — DuckDB's ``string_agg(... ORDER
    BY)`` against Spark's ``sort_array(collect_list(...))`` +
    ``array_join``: collect_list's arrival order is nondeterministic
    by contract, so the SORT is what makes list-valued aggregation
    hash-checkable cross-engine (the q164 canonical-serialization rule
    applied to the string_agg surface). Five alphabetically-first
    customer names per market segment.

    Plan: one rank window per segment + one grouped collect over ≤5
    rows per group — the collect never sees unbounded groups."""
    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_name", "c_custkey")
    r = c.select(
        "c_mktsegment", "c_name", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 5)
    return r.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_listed"),
        F.array_join(F.sort_array(F.collect_list("c_name")), ",").alias(
            "first5_names"
        ),
    )


# ---------------------------------------------------------------------------
# q210 — NULL-semantics function family
# ---------------------------------------------------------------------------


@query(
    "q210_null_semantics",
    oracle="""
        WITH x AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 5 = 0 THEN NULL
                        ELSE o_totalprice END AS maybe_price,
                   CASE WHEN o_orderkey % 3 = 0 THEN NULL
                        ELSE o_orderstatus END AS maybe_status
            FROM orders
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(maybe_price) AS BIGINT) AS n_price_present,
               CAST(COUNT(*) FILTER (maybe_price IS NOT DISTINCT FROM NULL)
                    AS BIGINT) AS n_price_null_safe,
               CAST(COUNT(*) FILTER (nullif(maybe_status, 'P') IS NULL)
                    AS BIGINT) AS n_nullif_p,
               CAST(SUM(CAST(COALESCE(maybe_price, 0) AS DECIMAL(28,6)))
                    AS DOUBLE) AS sum_imputed,
               CAST(COUNT(*) FILTER (
                        CASE WHEN maybe_price IS NOT NULL AND maybe_status IS NOT NULL
                             THEN 'both' ELSE 'gap' END = 'both')
                    AS BIGINT) AS n_both_present
        FROM x
    """,
)
def q210_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NULL-handling function family in one fused pass: COUNT's
    NULL skipping, null-safe equality (``<=>`` ≡ IS NOT DISTINCT
    FROM), ``nullif`` collapsing a sentinel to NULL, ``coalesce``
    imputation feeding a decimal sum, and an ``nvl2``-shaped
    both-present classifier — the semantics every cleaning rule leans
    on (reference's impute/delete rules, ``pre_process.py:110-168``),
    proven equivalent cross-engine rather than assumed. NULLs are
    planted deterministically from the key so the oracle sees the
    same gaps.

    Plan: one scan, one fused aggregate."""
    o = read_table(spark, sf_dir, "orders")
    x = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("maybe_price"),
        F.when(F.col("o_orderkey") % 3 == 0, None)
        .otherwise(F.col("o_orderstatus"))
        .alias("maybe_status"),
    )
    from databricks_etl_spark.functions.scalars import MONEY

    return x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("maybe_price").cast("long").alias("n_price_present"),
        F.count_if(F.col("maybe_price").eqNullSafe(F.lit(None).cast("double")))
        .cast("long")
        .alias("n_price_null_safe"),
        F.count_if(F.nullif(F.col("maybe_status"), F.lit("P")).isNull())
        .cast("long")
        .alias("n_nullif_p"),
        F.sum(F.coalesce(F.col("maybe_price"), F.lit(0)).cast(MONEY))
        .cast("double")
        .alias("sum_imputed"),
        F.count_if(
            F.nvl2(F.col("maybe_price"), F.lit("x"), F.lit(None)).isNotNull()
            & F.col("maybe_status").isNotNull()
        )
        .cast("long")
        .alias("n_both_present"),
    )


# ---------------------------------------------------------------------------
# q211 — array set operations (canonical serialization)
# ---------------------------------------------------------------------------

_Q211_STOP = ["the", "and", "of", "to", "a", "in", "is", "for", "on", "with"]


@query(
    "q211_array_set_ops",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_distinct(string_split_regex(lower(trim(text)), '\\s+'))
                       AS toks
            FROM documents
        ),
        stop AS (SELECT {str(_Q211_STOP).replace("'", chr(39))}::VARCHAR[] AS sw)
        SELECT doc_id,
               CAST(len(list_sort(list_intersect(toks, sw))) AS INT) AS n_stop,
               CAST(len(list_filter(toks, x -> NOT list_contains(sw, x)))
                    AS INT) AS n_content,
               COALESCE(array_to_string(list_sort(list_intersect(toks, sw)), ','),
                        '') AS stop_csv
        FROM t, stop
    """,
)
def q211_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array SET operations against a broadcast literal set —
    intersect (which stopwords a doc uses), except (content-token
    count), and the canonical sorted serialization that makes
    list-valued output hash-checkable (the q164/q209 rule: engines
    don't share array wire order, so SORT before comparing). The
    everyday shape of vocab masking and stopword analysis done
    entirely in JVM array kernels — no explode, no shuffle beyond the
    scan.

    DuckDB's ``list_intersect`` has no order/dup guarantee and its
    ``list_except`` NULL quirks bit q166 once — so the except side is
    expressed as an explicit ``filter(NOT contains)`` on BOTH engines
    (identical semantics by construction), the intersect is
    sort-canonicalized, and the empty-list serialization is pinned to
    '' (DuckDB's ``array_to_string([])`` is NULL, Spark's is '')."""
    from databricks_etl_spark.operators.text import tokens_col

    d = read_table(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(s) for s in _Q211_STOP])
    toks = F.array_distinct(tokens_col("text"))
    inter = F.array_sort(F.array_intersect(toks, sw))
    content = F.filter(toks, lambda x: ~F.array_contains(sw, x))
    return d.select(
        "doc_id",
        F.size(inter).cast("int").alias("n_stop"),
        F.size(content).cast("int").alias("n_content"),
        F.array_join(inter, ",").alias("stop_csv"),
    )


# ---------------------------------------------------------------------------
# q212 — 2-D histogram (price × order month grid)
# ---------------------------------------------------------------------------


@query(
    "q212_histogram2d",
    oracle="""
        SELECT CAST(floor(o_totalprice / 50000) AS INT) AS price_bin,
               CAST(month(o_orderdate) AS INT) AS month_bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS bin_revenue
        FROM orders
        GROUP BY 1, 2
    """,
)
def q212_histogram2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram: equi-width price bins × calendar month, with
    per-cell count and decimal revenue — the joint-distribution grid
    behind heatmap dashboards and the 2-D analog of q99's 1-D
    width-bucket histogram (and the statistics a 2-D Z-order layout
    like q144 clusters by). Bin edges are exact integer arithmetic
    (floor of double/50000 — integral doubles, no rounding ambiguity).

    Plan: one scan, one grouped aggregate over ~120 cells —
    map-combinable, the canonical scale-safe profile."""
    from databricks_etl_spark.functions.scalars import MONEY

    o = read_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.floor(F.col("o_totalprice") / 50000).cast("int").alias("price_bin"),
        F.month("o_orderdate").cast("int").alias("month_bin"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("o_totalprice").cast(MONEY)).cast("double").alias("bin_revenue"),
    )


# ---------------------------------------------------------------------------
# q213 — PageRank in integer fixed-point: an ITERATIVE algorithm made
# bit-for-bit oracle-checkable (deterministic twin of q169)
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000_000  # ranks carried as 1e12-scaled BIGINTs
_PR_TELEPORT = 150_000_000_000  # 0.15 * SCALE, exact literal
_PR_ITERS = 4


def _pagerank_sql() -> str:
    """Generate the q213 oracle: the same fixed-point update unrolled
    as chained CTEs (standard SQL forbids aggregation in a recursive
    term, so iterations unroll — the oracle mirrors the Spark loop
    exactly, iteration for iteration)."""
    steps = []
    for k in range(1, _PR_ITERS + 1):
        steps.append(
            f"""r{k} AS (
            SELECT e.v AS node,
                   {_PR_TELEPORT} + (85 * SUM(r{k - 1}.rank // deg.d)) // 100
                       AS rank
            FROM r{k - 1}
            JOIN deg ON deg.u = r{k - 1}.node
            JOIN e ON e.u = r{k - 1}.node
            GROUP BY e.v
        )"""
        )
    return f"""
        WITH {_BANDS_SQL},
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
            FROM b a JOIN b c
              ON a.band = c.band AND a.band_hash = c.band_hash
             AND a.doc_id < c.doc_id
        ),
        e AS (
            SELECT id_a AS u, id_b AS v FROM cand
            UNION ALL SELECT id_b, id_a FROM cand
        ),
        deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
        r0 AS (SELECT u AS node, CAST({_PR_SCALE} AS BIGINT) AS rank FROM deg),
        {", ".join(steps)}
        SELECT node AS doc_id, CAST(rank AS BIGINT) AS rank_fp
        FROM r{_PR_ITERS}
    """


@query("q213_pagerank_fixed_point", oracle=_pagerank_sql())
def q213_pagerank_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup candidate graph in INTEGER
    fixed-point — the driver-provable twin of q169 (which, like every
    float power iteration, cannot cross-engine hash: double summation
    order differs). Ranks are 1e12-scaled BIGINTs; each iteration is
    share = rank DIV deg, contrib = Σ shares over in-edges, rank' =
    0.15·SCALE + (85·contrib) DIV 100 — all integer DIV/sum, so both
    engines compute the identical lattice point at every iteration
    and the final ranks hash-match exactly. The bidirected candidate
    graph has no dangling nodes (every node has an edge), so no
    dangling-mass term. 4 iterations — enough to rank hub documents
    (the q169 float form remains the convergence-tested production
    path; this query is its cross-engine proof, the same relationship
    q163 has to q46).

    Plan: per iteration one rank⋈deg⋈edges join + one grouped sum —
    exactly the q169 loop shape, map-combinable; the oracle unrolls
    the same iterations as chained CTEs. At 100 TB each iteration is
    one co-partitioned shuffle on the node key."""
    b = _band_buckets(spark, sf_dir)
    a = b.select(F.col("doc_id").alias("id_a"), "band", "band_hash")
    c = b.select(F.col("doc_id").alias("id_b"), "band", "band_hash")
    cand = (
        a.join(c, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    e = cand.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionAll(cand.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ranks = deg.select(
        F.col("u").alias("node"), F.lit(_PR_SCALE).cast("long").alias("rank")
    )
    # edges and degrees feed every iteration — cache once (the q169
    # loop-invariant rule from round 3's advice, applied from day one)
    e = e.persist()
    deg = deg.persist()
    try:
        for _ in range(_PR_ITERS):
            shares = ranks.join(deg, ranks["node"] == deg["u"]).select(
                F.col("node").alias("src"), F.expr("rank DIV d").alias("share")
            )
            contrib = (
                e.join(shares, e["u"] == shares["src"])
                .groupBy("v")
                .agg(F.sum("share").alias("c"))
            )
            ranks = contrib.select(
                F.col("v").alias("node"),
                (F.lit(_PR_TELEPORT) + F.expr("(85 * c) DIV 100"))
                .cast("long")
                .alias("rank"),
            )
        out = ranks.select(
            F.col("node").alias("doc_id"), F.col("rank").alias("rank_fp")
        )
        out = out.localCheckpoint(eager=True)  # cut lineage before unpersist
    finally:
        e.unpersist()
        deg.unpersist()
    return out


# ---------------------------------------------------------------------------
# q214 — nearest-centroid assignment (planar vector quantization)
# ---------------------------------------------------------------------------

_Q214_CENTERS = [(0, 20.0, 30.0), (1, 80.0, 25.0), (2, 50.0, 75.0),
                 (3, 10.0, 90.0), (4, 90.0, 85.0)]


@query(
    "q214_nearest_centroid",
    oracle=f"""
        WITH pts AS (
            SELECT c_custkey, c_acctbal,
                   CAST(c_custkey % 97 AS DOUBLE) / 97 * 100 AS x,
                   CAST(c_custkey % 89 AS DOUBLE) / 89 * 100 AS y
            FROM customer
        ),
        centers(cid, cx, cy) AS (
            VALUES {", ".join(f"({c}, {x}, {y})" for c, x, y in _Q214_CENTERS)}
        ),
        d AS (
            SELECT c_custkey, c_acctbal, cid,
                   (x - cx) * (x - cx) + (y - cy) * (y - cy) AS d2,
                   row_number() OVER (
                       PARTITION BY c_custkey
                       ORDER BY (x - cx) * (x - cx) + (y - cy) * (y - cy), cid
                   ) AS rn
            FROM pts, centers
        )
        SELECT CAST(cid AS INT) AS center_id,
               CAST(COUNT(*) AS BIGINT) AS n_assigned,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS avg_acctbal
        FROM d WHERE rn = 1
        GROUP BY cid
    """,
)
def q214_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment over a planar embedding (customers
    mapped to deterministic 2-D coordinates, 5 literal centers) — the
    assignment step of KMeans / vector quantization made exactly
    hash-checkable: squared Euclidean distance needs no sqrt (argmin
    is monotone in d²), all arithmetic is the same IEEE ops both
    engines, and the (d², cid) tiebreak settles equidistant points.
    The oracle-checkable twin of the q55 assignment step, the same
    way q213 twins q169.

    Plan: 5-row literal centers broadcast into a projection, per-point
    argmin via a 5-row window partition — linear scan, one aggregate.
    At 100 TB this IS the KMeans-assign job (centers always
    broadcast)."""
    from databricks_etl_spark.functions.scalars import MONEY

    c = read_table(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        "c_acctbal",
        ((F.col("c_custkey") % 97).cast("double") / 97 * 100).alias("x"),
        ((F.col("c_custkey") % 89).cast("double") / 89 * 100).alias("y"),
    )
    centers = spark.createDataFrame(_Q214_CENTERS, "cid INT, cx DOUBLE, cy DOUBLE")
    d2 = (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx")) + (
        F.col("y") - F.col("cy")
    ) * (F.col("y") - F.col("cy"))
    w = Window.partitionBy("c_custkey").orderBy(d2.asc(), F.col("cid"))
    d = pts.crossJoin(F.broadcast(centers)).select(  # 5 literal centers
        "c_custkey", "c_acctbal", "cid", F.row_number().over(w).alias("rn")
    )
    return (
        d.filter(F.col("rn") == 1)
        .groupBy(F.col("cid").cast("int").alias("center_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            (F.sum(F.col("c_acctbal").cast(MONEY)).cast("double") / F.count(F.lit(1)))
            .alias("avg_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q215 — event-path pattern matching (MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------

_Q215_PATTERNS = [
    ("view_then_click_then_purchase", "v.*c.*p"),
    ("starts_with_signup", "^s"),
    ("error_free", "^[^e]*$"),
]


@query(
    "q215_path_pattern_match",
    oracle=f"""
        WITH paths AS (
            SELECT user_id,
                   string_agg(substr(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS path
            FROM events GROUP BY user_id
        ),
        pat(pattern_name, pat) AS (
            VALUES {", ".join(f"('{n}', '{p}')" for n, p in _Q215_PATTERNS)}
        )
        SELECT pattern_name,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(COUNT(*) FILTER (regexp_matches(path, pat)) AS BIGINT)
                   AS n_matching,
               round(CAST(COUNT(*) FILTER (regexp_matches(path, pat)) AS DOUBLE)
                     / COUNT(*), 6) AS match_rate
        FROM paths, pat
        GROUP BY pattern_name
    """,
)
def q215_path_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over event paths — MATCH_RECOGNIZE
    semantics via the collapse-to-string trick: each user's events
    become an ordered initial-letter string ((ts, event_id) total
    order), and behavioral patterns become regexes (subsequence
    view→click→purchase, anchored first-event, absence-of-error).
    This is how funnel DSLs compile when the engine lacks native row-
    pattern matching. collect_list order is nondeterministic, so the
    Spark side sorts (ts, event_id, initial) structs before
    concatenation (the q209 canonicalization rule).

    Plan: one grouped path build (paths are |events-per-user| chars,
    bounded) + a 3-literal-pattern broadcast; regexes run per user
    row, scan-local."""
    e = read_table(spark, sf_dir, "events")
    paths = (
        e.select(
            "user_id",
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("i")).alias(
                "s"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.sort_array(F.collect_list("s")), lambda x: x["i"]), ""
            ).alias("path")
        )
    )
    pat = spark.createDataFrame(_Q215_PATTERNS, "pattern_name STRING, pat STRING")
    return (
        paths.crossJoin(F.broadcast(pat))  # 3 literal patterns
        .groupBy("pattern_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.count_if(F.expr("path RLIKE pat")).cast("long").alias("n_matching"),
            F.round(
                F.count_if(F.expr("path RLIKE pat")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("match_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q216 — Benford first-digit audit
# ---------------------------------------------------------------------------

_BENFORD = {1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
            6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757}


@query(
    "q216_benford_audit",
    oracle=f"""
        WITH digits AS (
            SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS INT) AS d
            FROM orders WHERE o_totalprice >= 1
        ),
        exp(d, benford_expected) AS (
            VALUES {", ".join(f"({d}, {p})" for d, p in _BENFORD.items())}
        )
        SELECT exp.d AS first_digit,
               CAST(COALESCE(COUNT(digits.d), 0) AS BIGINT) AS n,
               round(CAST(COUNT(digits.d) AS DOUBLE)
                     / (SELECT COUNT(*) FROM digits), 6) AS freq,
               benford_expected,
               round(CAST(COUNT(digits.d) AS DOUBLE)
                     / (SELECT COUNT(*) FROM digits) - benford_expected, 6)
                   AS deviation
        FROM exp LEFT JOIN digits ON digits.d = exp.d
        GROUP BY exp.d, benford_expected
    """,
)
def q216_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fraud/synthetic-data screen (natural multiplicative amounts follow
    log10(1+1/d); flat-generated data shows up instantly, as this
    near-uniform TPC-H-ish column does). Expected frequencies are the
    nine Benford constants as 6-dp literals on BOTH engines — no
    cross-engine log10. First digit via integer→string, locale-free.

    Plan: one scan → digit projection → 9-group count with the
    expectation table broadcast; everything map-combinable."""
    o = read_table(spark, sf_dir, "orders")
    digits = o.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    total = digits.agg(F.count(F.lit(1)).alias("tot"))
    exp = spark.createDataFrame(
        list(_BENFORD.items()), "d INT, benford_expected DOUBLE"
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    return (
        F.broadcast(exp)
        .join(counts, "d", "left")
        .crossJoin(F.broadcast(total))  # 1-row total
        .select(
            F.col("d").alias("first_digit"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.round(
                F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("tot"), 6
            ).alias("freq"),
            "benford_expected",
            F.round(
                F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("tot")
                - F.col("benford_expected"),
                6,
            ).alias("deviation"),
        )
    )


# ---------------------------------------------------------------------------
# q217 — winsorized statistics (rank-exact p5/p95 clipping)
# ---------------------------------------------------------------------------


@query(
    "q217_winsorized_stats",
    oracle="""
        WITH r AS (
            SELECT l_returnflag, l_extendedprice,
                   row_number() OVER (
                       PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ) AS rk,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem
        ),
        bounds AS (
            SELECT l_returnflag,
                   MIN(CASE WHEN rk = (n + 19) // 20 THEN l_extendedprice END)
                       AS lo_val,
                   MIN(CASE WHEN rk = (19 * n + 19) // 20 THEN l_extendedprice END)
                       AS hi_val
            FROM r GROUP BY l_returnflag
        )
        SELECT r.l_returnflag,
               bounds.lo_val, bounds.hi_val,
               CAST(COUNT(*) FILTER (l_extendedprice < lo_val) AS BIGINT)
                   AS n_clipped_low,
               CAST(COUNT(*) FILTER (l_extendedprice > hi_val) AS BIGINT)
                   AS n_clipped_high,
               CAST(SUM(CAST(
                        CASE WHEN l_extendedprice < lo_val THEN lo_val
                             WHEN l_extendedprice > hi_val THEN hi_val
                             ELSE l_extendedprice END AS DECIMAL(28,6)))
                    AS DOUBLE) / COUNT(*) AS winsorized_mean
        FROM r JOIN bounds ON r.l_returnflag = bounds.l_returnflag
        GROUP BY r.l_returnflag, bounds.lo_val, bounds.hi_val
    """,
)
def q217_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group — outlier-robust feature scaling:
    clip each group's prices at rank-EXACT p5/p95 order statistics
    (rank ceil(n/20) computed as the integer (n+19) DIV 20: no 0.05·n
    float whose representation error could flip a ceil across
    engines), then decimal-average the clipped column. The robust-
    stats counterpart to q207's raw moments; percentile_approx stays
    the sketch path (q149 gates its error).

    Plan: one rank window per group + a per-group bound lookup joined
    back — two shuffles on the group key, both map-combinable."""
    from databricks_etl_spark.functions.scalars import MONEY

    li = read_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("l_returnflag")
    r = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bounds = r.groupBy("l_returnflag").agg(
        F.min(
            F.when(F.col("rk") == F.expr("(n + 19) DIV 20"), F.col("l_extendedprice"))
        ).alias("lo_val"),
        F.min(
            F.when(
                F.col("rk") == F.expr("(19 * n + 19) DIV 20"),
                F.col("l_extendedprice"),
            )
        ).alias("hi_val"),
    )
    j = r.join(bounds, "l_returnflag")
    clipped = (
        F.when(F.col("l_extendedprice") < F.col("lo_val"), F.col("lo_val"))
        .when(F.col("l_extendedprice") > F.col("hi_val"), F.col("hi_val"))
        .otherwise(F.col("l_extendedprice"))
    )
    return j.groupBy("l_returnflag", "lo_val", "hi_val").agg(
        F.count_if(F.col("l_extendedprice") < F.col("lo_val"))
        .cast("long")
        .alias("n_clipped_low"),
        F.count_if(F.col("l_extendedprice") > F.col("hi_val"))
        .cast("long")
        .alias("n_clipped_high"),
        (F.sum(clipped.cast(MONEY)).cast("double") / F.count(F.lit(1))).alias(
            "winsorized_mean"
        ),
    ).select(
        "l_returnflag", "lo_val", "hi_val", "n_clipped_low", "n_clipped_high",
        "winsorized_mean",
    )


# ---------------------------------------------------------------------------
# q218 — seasonal-naive forecast backtest
# ---------------------------------------------------------------------------


@query(
    "q218_seasonal_naive_forecast",
    oracle="""
        WITH monthly AS (
            SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
                   SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
            FROM orders GROUP BY 1, 2
        )
        SELECT CAST(a.y AS INT) AS y, CAST(a.m AS INT) AS m,
               CAST(a.rev AS DOUBLE) AS actual,
               CAST(p.rev AS DOUBLE) AS forecast,
               CAST(abs(a.rev - p.rev) AS DOUBLE) AS abs_err,
               round(CAST(abs(a.rev - p.rev) AS DOUBLE) / CAST(a.rev AS DOUBLE),
                     6) AS pct_err
        FROM monthly a JOIN monthly p ON p.y = a.y - 1 AND p.m = a.m
    """,
)
def q218_seasonal_naive_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each month's revenue
    as the same month last year (THE baseline every forecasting model
    must beat) and report per-month absolute and percentage error.
    Decimal month sums keep actual/forecast/abs_err exact; pct_err is
    one rounded double division. Self-join on (y−1, m) instead of a
    lag-12 window — immune to gap months.

    Plan: one grouped decimal aggregate + an equi-join over the
    ~|months| relation. Completes the time-series lane: EWMA (q197)
    smooths, seasonality (q201) decomposes, this one backtests."""
    from databricks_etl_spark.functions.scalars import MONEY

    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(F.sum(F.col("o_totalprice").cast(MONEY)).alias("rev"))
    a = monthly.select(
        F.col("y").alias("ay"), F.col("m").alias("am"), F.col("rev").alias("arev")
    )
    p = monthly.select(
        F.col("y").alias("py"), F.col("m").alias("pm"), F.col("rev").alias("prev_rev")
    )
    j = a.join(p, (F.col("py") == F.col("ay") - 1) & (F.col("pm") == F.col("am")))
    abs_err = F.abs(F.col("arev") - F.col("prev_rev"))
    return j.select(
        F.col("ay").cast("int").alias("y"),
        F.col("am").cast("int").alias("m"),
        F.col("arev").cast("double").alias("actual"),
        F.col("prev_rev").cast("double").alias("forecast"),
        abs_err.cast("double").alias("abs_err"),
        F.round(
            abs_err.cast("double") / F.col("arev").cast("double"), 6
        ).alias("pct_err"),
    )


# ---------------------------------------------------------------------------
# q219 — two-proportion A/B z-test
# ---------------------------------------------------------------------------


@query(
    "q219_ab_test_ztest",
    oracle="""
        WITH conv AS (
            SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 250000
        ),
        assign AS (
            SELECT c.c_custkey % 2 AS variant,
                   CASE WHEN conv.o_custkey IS NULL THEN 0 ELSE 1 END AS converted
            FROM customer c LEFT JOIN conv ON c.c_custkey = conv.o_custkey
        ),
        agg AS (
            SELECT
                COUNT(*) FILTER (variant = 0) AS n_a,
                COUNT(*) FILTER (variant = 1) AS n_b,
                SUM(converted) FILTER (variant = 0) AS conv_a,
                SUM(converted) FILTER (variant = 1) AS conv_b
            FROM assign
        )
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               CAST(conv_a AS BIGINT) AS conv_a, CAST(conv_b AS BIGINT) AS conv_b,
               round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
               round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
               round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                     / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                            * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b)), 6) AS z_stat,
               abs((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                   / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                          * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                          * (1.0 / n_a + 1.0 / n_b))) > 1.96 AS significant_95
        FROM agg
    """,
)
def q219_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the experimentation-platform readout:
    customers split into variants by key parity (deterministic
    assignment, the q125 portable-bucketing idea), conversion = any
    high-value order, pooled-variance z statistic and the |z| > 1.96
    verdict. Every input to the float expression is an exact integer,
    and both engines evaluate the identical IEEE expression tree
    (division/sqrt are correctly-rounded per IEEE 754, unlike
    transcendentals), so even the boolean verdict hash-matches — the
    p-value lookup is the only piece left client-side (no cross-engine
    erf).

    Plan: one left join for the conversion flag (the converter set
    approaches |customer| as conversion rises, so no hard broadcast
    hint — AQE broadcasts while it fits) + one fused conditional
    aggregate; 1-row output."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    conv = o.filter(F.col("o_totalprice") > 250000).select("o_custkey").distinct()
    assign = c.join(
        conv, c["c_custkey"] == conv["o_custkey"], "left"
    ).select(
        (F.col("c_custkey") % 2).alias("variant"),
        F.when(F.col("o_custkey").isNull(), 0).otherwise(1).alias("converted"),
    )
    agg = assign.agg(
        F.count_if(F.col("variant") == 0).alias("n_a"),
        F.count_if(F.col("variant") == 1).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted"))).alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted"))).alias("conv_b"),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (ra - rb) / F.sqrt(
        pooled * (1 - pooled) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("conv_a").cast("long").alias("conv_a"),
        F.col("conv_b").cast("long").alias("conv_b"),
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


# ---------------------------------------------------------------------------
# q220 — RFM segmentation
# ---------------------------------------------------------------------------

_RFM_AS_OF = "2001-09-01"  # fixed as-of (F6 rule: never current_date)


@query(
    "q220_rfm_segmentation",
    oracle=f"""
        WITH rfm AS (
            SELECT o_custkey,
                   date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                             DATE '{_RFM_AS_OF}') AS r_days,
                   COUNT(*) AS freq,
                   SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS monetary
            FROM orders GROUP BY o_custkey
        ),
        scored AS (
            SELECT o_custkey, monetary,
                   ntile(5) OVER (ORDER BY r_days DESC, o_custkey) AS r_q,
                   ntile(5) OVER (ORDER BY freq ASC, o_custkey) AS f_q,
                   ntile(5) OVER (ORDER BY monetary ASC, o_custkey) AS m_q
            FROM rfm
        )
        SELECT CAST(r_q AS INT) || '-' || CAST(f_q AS INT) || '-'
                   || CAST(m_q AS INT) AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(monetary) AS DOUBLE) / COUNT(*) AS avg_monetary
        FROM scored
        GROUP BY segment
    """,
)
def q220_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the retention-marketing workhorse: per
    customer recency (days before a FIXED as-of date, the F6
    no-current_date rule), frequency, and decimal monetary value,
    each quintiled (ntile with custkey tiebreaks → deterministic bin
    edges), then segment labels like '5-4-3' rolled up with average
    value. Quintile 5 = most recent / most frequent / highest value.

    Plan: one grouped aggregate per customer, then three two-phase
    distributed ranks over the |customers| relation
    (``operators.quantile_bucket.exact_ntile`` — bit-identical to the
    oracle's global ntile, no SinglePartition sort); q248's broadcast
    approx-quintile twin remains the zero-materialization alternative;
    per-customer aggs map-combine."""
    from databricks_etl_spark.functions.scalars import MONEY
    from databricks_etl_spark.operators.quantile_bucket import exact_ntile

    o = read_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(F.lit(_RFM_AS_OF).cast("date"), F.max("o_orderdate").cast("date"))
        .alias("r_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast(MONEY)).alias("monetary"),
    )
    scored = exact_ntile(
        exact_ntile(
            exact_ntile(
                rfm,
                [F.desc("r_days"), F.col("o_custkey")],
                5,
                out_col="r_q",
            ),
            [F.asc("freq"), F.col("o_custkey")],
            5,
            out_col="f_q",
        ),
        [F.asc("monetary"), F.col("o_custkey")],
        5,
        out_col="m_q",
    ).select("o_custkey", "monetary", "r_q", "f_q", "m_q")
    return scored.groupBy(
        F.concat_ws(
            "-",
            F.col("r_q").cast("int"),
            F.col("f_q").cast("int"),
            F.col("m_q").cast("int"),
        ).alias("segment")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (F.sum("monetary").cast("double") / F.count(F.lit(1))).alias("avg_monetary"),
    )


# ---------------------------------------------------------------------------
# q221 — Pareto 80/20 concentration
# ---------------------------------------------------------------------------


@query(
    "q221_pareto_8020",
    oracle="""
        WITH crev AS (
            SELECT o_custkey,
                   SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT rev,
                   row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk,
                   SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                                  ROWS UNBOUNDED PRECEDING) AS cum_rev,
                   SUM(rev) OVER () AS total_rev,
                   COUNT(*) OVER () AS n
            FROM crev
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
               CAST(MIN(CASE WHEN 10 * cum_rev >= 8 * total_rev THEN rk END)
                    AS BIGINT) AS n_for_80pct,
               round(CAST(MIN(CASE WHEN 10 * cum_rev >= 8 * total_rev THEN rk END)
                          AS DOUBLE) / MAX(n), 6) AS share_customers_for_80pct,
               round(CAST(MAX(CASE WHEN rk = n // 5 THEN cum_rev END) AS DOUBLE)
                     / CAST(MAX(total_rev) AS DOUBLE), 6) AS top20pct_rev_share
        FROM ranked
    """,
)
def q221_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto 80/20 concentration: how many customers produce 80% of
    revenue, and what share the top 20% of customers hold — the
    concentration summary next to Gini (q200). The 80% threshold is
    the EXACT decimal comparison 10·cum ≥ 8·total (no float cutoff
    that a half-ulp could flip); the top-20% rank is the integer
    n DIV 5. Cumulative decimal sums over the (rev DESC, custkey)
    total order are order-deterministic by construction.

    Plan: per-customer decimal aggregate, one ranked cumulative window
    over |customers|, 1-row output. This exact form is the sf-bounded
    BASELINE; the 100 TB path is q250's broadcast approx-p80 bracket
    (no ranked cumulative window)."""
    from databricks_etl_spark.functions.scalars import MONEY

    o = read_table(spark, sf_dir, "orders")
    crev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(MONEY)).alias("rev")
    )
    word = Window.orderBy(F.desc("rev"), "o_custkey")
    ranked = crev.select(
        "rev",
        F.row_number().over(word).alias("rk"),
        F.sum("rev").over(word.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum_rev"
        ),
        F.sum("rev").over(Window.partitionBy()).alias("total_rev"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    hit80 = F.when(
        10 * F.col("cum_rev") >= 8 * F.col("total_rev"), F.col("rk")
    )
    top20 = F.when(F.col("rk") == F.expr("n DIV 5"), F.col("cum_rev"))
    return ranked.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.min(hit80).cast("long").alias("n_for_80pct"),
        F.round(F.min(hit80).cast("double") / F.max("n"), 6).alias(
            "share_customers_for_80pct"
        ),
        F.round(
            F.max(top20).cast("double") / F.max("total_rev").cast("double"), 6
        ).alias("top20pct_rev_share"),
    )


# ---------------------------------------------------------------------------
# q222 — cohort LTV curves
# ---------------------------------------------------------------------------


@query(
    "q222_cohort_ltv",
    oracle="""
        WITH firsts AS (
            SELECT o_custkey,
                   MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_ym
            FROM orders GROUP BY o_custkey
        ),
        facts AS (
            SELECT f.cohort_ym,
                   (year(o.o_orderdate) * 12 + month(o.o_orderdate))
                       - f.cohort_ym AS offset_m,
                   o.o_custkey,
                   CAST(o.o_totalprice AS DECIMAL(28,6)) AS rev
            FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
        ),
        grid AS (
            SELECT cohort_ym, offset_m,
                   COUNT(DISTINCT o_custkey) AS n_active,
                   SUM(rev) AS rev_m
            FROM facts GROUP BY 1, 2
        )
        SELECT CAST(cohort_ym AS INT) AS cohort_ym,
               CAST(offset_m AS INT) AS offset_m,
               CAST(n_active AS BIGINT) AS n_active,
               CAST(SUM(rev_m) OVER (PARTITION BY cohort_ym ORDER BY offset_m)
                    AS DOUBLE) AS cum_revenue
        FROM grid
    """,
)
def q222_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month (cohort as YEAR·12+MONTH — pure integer month arithmetic,
    no cross-engine months_between fraction), revenue accumulated by
    month offset — the LTV triangle finance reads next to q91's
    retention triangle. Cumulative sums stay DECIMAL through the
    window (exact, order-independent) and cast to double only on
    output.

    Plan: per-customer first-order min (map-combinable), fact join on
    the customer key, grid aggregate, and one cumulative window per
    cohort partition."""
    from databricks_etl_spark.functions.scalars import MONEY

    o = read_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
    firsts = o.groupBy("o_custkey").agg(F.min(ym).alias("cohort_ym"))
    facts = o.join(firsts, "o_custkey").select(
        "cohort_ym",
        (ym - F.col("cohort_ym")).alias("offset_m"),
        "o_custkey",
        F.col("o_totalprice").cast(MONEY).alias("rev"),
    )
    grid = facts.groupBy("cohort_ym", "offset_m").agg(
        F.count_distinct("o_custkey").alias("n_active"),
        F.sum("rev").alias("rev_m"),
    )
    w = Window.partitionBy("cohort_ym").orderBy("offset_m")
    return grid.select(
        F.col("cohort_ym").cast("int").alias("cohort_ym"),
        F.col("offset_m").cast("int").alias("offset_m"),
        F.col("n_active").cast("long").alias("n_active"),
        F.sum("rev_m").over(w).cast("double").alias("cum_revenue"),
    )


# ---------------------------------------------------------------------------
# q223 — maximum drawdown of the daily revenue series
# ---------------------------------------------------------------------------


@query(
    "q223_max_drawdown",
    oracle="""
        WITH daily AS (
            SELECT o_orderpriority AS priority, o_orderdate AS day,
                   SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
            FROM orders GROUP BY 1, 2
        ),
        dd AS (
            SELECT priority, day, rev,
                   MAX(rev) OVER (PARTITION BY priority ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) - rev AS draw
            FROM daily
        ),
        flagged AS (
            SELECT priority, day, draw,
                   MAX(draw) OVER (PARTITION BY priority) AS max_draw
            FROM dd
        )
        SELECT priority,
               CAST(MAX(draw) AS DOUBLE) AS max_drawdown,
               MIN(CASE WHEN draw = max_draw THEN day END) AS trough_day
        FROM flagged
        GROUP BY priority
    """,
)
def q223_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series — the finance risk metric (largest
    peak-to-trough fall of daily revenue), computed with a running-max
    window over exact decimals so the drawdown and its (earliest)
    trough day are cross-engine exact. Completes the time-series
    analytics lane (EWMA smooths, seasonal index decomposes, naive
    forecast backtests, drawdown measures risk).

    Plan: grouped decimal daily aggregate + one running-max window
    per series partition + a per-series argmin — two window passes
    over the reduced |days| relation."""
    from databricks_etl_spark.functions.scalars import MONEY

    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("day"),
    ).agg(F.sum(F.col("o_totalprice").cast(MONEY)).alias("rev"))
    w = Window.partitionBy("priority").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd = daily.select(
        "priority", "day", "rev", F.max("rev").over(w).alias("peak")
    ).withColumn("draw", F.col("peak") - F.col("rev"))
    wmax = Window.partitionBy("priority")
    flagged = dd.withColumn("max_draw", F.max("draw").over(wmax))
    return flagged.groupBy("priority").agg(
        F.max("draw").cast("double").alias("max_drawdown"),
        F.min(
            F.when(F.col("draw") == F.col("max_draw"), F.col("day"))
        ).alias("trough_day"),
    )


# ---------------------------------------------------------------------------
# q224 — top-k WITH TIES (dense_rank vs row_number semantics)
# ---------------------------------------------------------------------------


@query(
    "q224_topk_with_ties",
    oracle="""
        WITH r AS (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   dense_rank() OVER (PARTITION BY o_orderpriority
                                      ORDER BY CAST(o_totalprice AS DECIMAL(28,6))
                                          DESC) AS price_rank
            FROM orders
        )
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(price_rank AS INT) AS price_rank
        FROM r WHERE price_rank <= 3
    """,
)
def q224_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES — the FETCH FIRST k WITH TIES semantics:
    dense_rank ≤ 3 keeps EVERY order at the three highest price
    points per priority (row_number-based top-k, q23/q75, silently
    drops tied rows — the difference matters whenever ranking feeds
    entitlements or dedup survivorship). Ranking on the DECIMAL price
    makes tie groups identical across engines, so no arbitrary-order
    row can leak in or out of the result set.

    Plan: one ranked window per priority partition, filter — same
    shuffle profile as q75's TakeOrderedAndProject shape but
    necessarily materializing rank, since ties can exceed k rows."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").cast("decimal(28,6)").desc()
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.dense_rank().over(w).cast("int").alias("price_rank"),
        )
        .filter(F.col("price_rank") <= 3)
    )
