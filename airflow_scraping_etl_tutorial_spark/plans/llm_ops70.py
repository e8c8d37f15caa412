"""LLM-ops wave 71: six
engine surfaces a fresh 0-hit grep of the 456-entry catalog confirmed
uncovered —

- q457: the ANSI linear-regression aggregate family (regr_slope /
  regr_intercept / regr_r2 / regr_count / regr_avgx / regr_avgy) —
  AUDITED in-query against closed-form least-squares computed from
  exact BIGINT sums in the same pass (a float aggregate whose
  incremental update order differs per engine can never be
  value-replayed cross-engine; the q446/q448 audit doctrine), with
  the exact integer payload (count, Σx, Σy) value-compared.
- q458: str_to_map key:value document parsing — the reference's JSON
  field extraction posture (S2) over the OTHER wire format real
  pipelines carry (logfmt/properties lines); round-trip identity
  str_to_map(build(row)) == row, so a parser that split on the wrong
  delimiter or mangled a value hash-fails.
- q459: INTERVAL arithmetic (make_interval month/day columns,
  add_months+last_day month-end clamping, date_trunc quarter) — the
  date-math surface beyond q32-q34's formatting/add_days family;
  both engines clamp month-end identically (2024-01-31 + 1 month =
  2024-02-29, verified), outputs all DATE.
- q460: the array MUTATION family (array_insert / array_prepend /
  array_compact / array_remove / array_distinct) — q38-q42 cover
  read-side HOFs; these are the write-side edits. The oracle replays
  every result as CLOSED-FORM string arithmetic over the same row
  (never DuckDB's list implementation of itself), and outputs are
  concat_ws-flattened strings (scalar-output lint).
- q461: try_cast NULL-on-error casting — the cast-shaped sibling of
  q449's try_* arithmetic lane: digit extraction parses, full
  priority strings quarantine to NULL, an impossible month-13 date
  is NULL, and the key/date round-trips return the original values
  exactly.
- q462: case-insensitive COLLATION grouping (Spark 4 collate(...,
  'UTF8_LCASE')) — a deterministically case-mangled priority column
  groups under the collated key; the oracle groups by LOWER().
  Output keys are lower()-normalized because a CI group's
  representative is engine-arbitrary; n_case_variants (binary
  COUNT(DISTINCT) inside each CI group) proves the collation did the
  merging, not the data.

Round-13 lint doctrine (tests/test_oracle_lint.py, structural since
this round): money sums ride exact BIGINT cents (never
SUM(CAST(raw AS DECIMAL))), nothing locale-sensitive
(format_number banned package-wide), no decimal ROUND/CAST inside
any recursive member. Floats are compared only via in-query audit
booleans; every aggregate is cast on BOTH sides (DuckDB SUM(BIGINT)
is HUGEINT); row-level entries bound to deterministic dense-key
slices.

Reference parity: the reference's clean step is exactly this class of
work — parse a semi-structured payload (q458), quarantine malformed
values instead of dying (q461, Final_app.py:52-58's scrub posture),
date bookkeeping for the daily grain (q459, Final_app.py:100-104),
and normalization before grouping (q462). q457/q460 extend the
aggregate/value-edit catalog with engine-native forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load
from .registry import query

_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

_REGR_KEY_CAP = 2048  # keeps every BIGINT moment product < 2^63 / 16
_REL_TOL = 1e-9  # audit tolerance, relative to the closed-form value

# y = whole currency units (cents div 100, exact integer): with
# x <= 2048 and y <= ~6e5, the largest closed-form product
# (n * Σy²) stays below ~1.2e18 — inside BIGINT with ~7x margin.
# (cents themselves would overflow n * Σy² at this cap.)
_REGR_Y = f"{_CENTS} DIV 100"
_REGR_Y_ORA = f"{_CENTS} // 100"


@query(
    "q457_regr_linear_family",
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sx,
           CAST(SUM({_REGR_Y_ORA}) AS BIGINT) AS sy,
           TRUE AS slope_ok, TRUE AS intercept_ok,
           TRUE AS r2_ok, TRUE AS avg_ok
    FROM orders
    WHERE o_orderkey <= {_REGR_KEY_CAP}
    GROUP BY 1 ORDER BY 1
    """,
    tags=("regr", "aggregation", "statistics", "audit"),
)
def q457_regr_linear_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The six ANSI regr_* aggregates over (x=orderkey, y=whole
    currency units) per status, audited against closed-form
    least-squares computed from exact BIGINT sums IN THE SAME QUERY:
    slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), intercept = ȳ − slope·x̄,
    r² = (nΣxy−ΣxΣy)² / ((nΣx²−(Σx)²)(nΣy²−(Σy)²)). regr_* values
    are floats whose per-engine accumulation order differs in the
    last ulps, so the audit asserts |regr − closed| ≤ 1e-9·|closed|
    (booleans the oracle states as constants) while the integer
    payload (n, Σx, Σy) is value-compared exactly. regr_count is
    additionally pinned to COUNT(*) inside the audit. Degenerate
    groups (single row, constant x or y) zero the closed-form
    denominators — regr_slope is NULL there — so each audit holds
    vacuously behind an n<=1 / dxx=0 / dyy=0 guard instead of
    comparing NULL booleans (data-shape robustness at unseen SFs). Scale: one
    pruned scan, map-side-combined partial aggregation, one shuffle
    on the 3-value status key."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        WITH b AS (
          SELECT o_orderstatus AS status,
                 CAST(o_orderkey AS BIGINT) AS x,
                 CAST({_REGR_Y} AS BIGINT) AS y
          FROM orders WHERE o_orderkey <= {_REGR_KEY_CAP}
        ),
        a AS (
          SELECT status,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 regr_slope(y, x) AS r_slope,
                 regr_intercept(y, x) AS r_icpt,
                 regr_r2(y, x) AS r_r2,
                 regr_count(y, x) AS r_n,
                 regr_avgx(y, x) AS r_ax,
                 regr_avgy(y, x) AS r_ay
          FROM b GROUP BY status
        ),
        d AS (
          SELECT a.*,
                 n * sxy - sx * sy AS cxy,
                 n * sxx - sx * sx AS dxx,
                 n * syy - sy * sy AS dyy
          FROM a
        )
        SELECT status, n, sx, sy,
               -- Degeneracy guards (ADVICE r13): a single-row or
               -- constant-x group makes the closed-form denominator
               -- zero (regr_slope returns NULL there) — the audit
               -- vacuously holds rather than comparing NULL to TRUE.
               (n <= 1 OR dxx = 0
                OR ABS(r_slope - CAST(cxy AS DOUBLE) / CAST(dxx AS DOUBLE))
                   <= {_REL_TOL} * GREATEST(
                        ABS(CAST(cxy AS DOUBLE) / CAST(dxx AS DOUBLE)), 1.0))
                 AS slope_ok,
               (n <= 1 OR dxx = 0
                OR ABS(r_icpt - (CAST(sy AS DOUBLE) / n
                                 - (CAST(cxy AS DOUBLE) / CAST(dxx AS DOUBLE))
                                   * (CAST(sx AS DOUBLE) / n)))
                   <= {_REL_TOL} * GREATEST(ABS(CAST(sy AS DOUBLE) / n), 1.0))
                 AS intercept_ok,
               ((n <= 1 OR dxx = 0 OR dyy = 0
                 OR ABS(r_r2 - CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE)
                               / (CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)))
                    <= {_REL_TOL})
                AND r_n = n)
                 AS r2_ok,
               (ABS(r_ax - CAST(sx AS DOUBLE) / n)
                  <= {_REL_TOL} * GREATEST(ABS(CAST(sx AS DOUBLE) / n), 1.0)
                AND ABS(r_ay - CAST(sy AS DOUBLE) / n)
                  <= {_REL_TOL} * GREATEST(ABS(CAST(sy AS DOUBLE) / n), 1.0))
                 AS avg_ok
        FROM d ORDER BY status
        """
    )


_KV_KEY_CAP = 1024


@query(
    "q458_str_to_map_kv_extraction",
    oracle=f"""
    SELECT o_orderkey,
           o_orderstatus AS s_val,
           o_orderpriority AS p_val,
           {_CENTS} AS c_cents,
           CAST(3 AS INT) AS n_keys
    FROM orders
    WHERE o_orderkey <= {_KV_KEY_CAP}
    ORDER BY o_orderkey
    """,
    tags=("str-to-map", "semistructured", "parsing"),
)
def q458_str_to_map_kv_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each row serializes to a logfmt-ish 's:…,p:…,c:…' document and
    parses back through str_to_map; the oracle states the original
    fields directly, so the compared value rests on the round-trip
    identity parse(build(row)) == row (the q439/q449 de-comma
    doctrine, on the key:value grammar). The priority value contains
    '-' and a space ('4-NOT SPECIFIED') but never the ',' / ':'
    delimiters, so the grammar is unambiguous by construction. n_keys
    comes from size(map) engine-side — a parser that dropped or
    duplicated a pair fails rows before values. Scale: map-only (one
    parse per row), no shuffle but the presentation sort."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        WITH docs AS (
          SELECT o_orderkey,
                 concat('s:', o_orderstatus,
                        ',p:', o_orderpriority,
                        ',c:', CAST({_CENTS} AS STRING)) AS doc
          FROM orders WHERE o_orderkey <= {_KV_KEY_CAP}
        ),
        parsed AS (
          SELECT o_orderkey, str_to_map(doc, ',', ':') AS m FROM docs
        )
        SELECT o_orderkey,
               m['s'] AS s_val,
               m['p'] AS p_val,
               CAST(m['c'] AS BIGINT) AS c_cents,
               CAST(size(m) AS INT) AS n_keys
        FROM parsed ORDER BY o_orderkey
        """
    )


_IVL_KEY_CAP = 1024


@query(
    "q459_interval_date_arithmetic",
    oracle=f"""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL (o_orderkey % 13) MONTH AS DATE)
             AS plus_months,
           CAST(o_orderdate + INTERVAL (o_orderkey % 29) DAY AS DATE)
             AS plus_days,
           last_day(o_orderdate + INTERVAL (o_orderkey % 13) MONTH)
             AS month_end,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start
    FROM orders
    WHERE o_orderkey <= {_IVL_KEY_CAP}
    ORDER BY o_orderkey
    """,
    tags=("interval", "date", "arithmetic"),
)
def q459_interval_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """make_interval with DATA-DERIVED month/day column arguments
    (the surface q32-q34's fixed-offset date_add family does not
    touch), month-end via last_day over add_months, and quarter
    bucketing via date_trunc. Month addition CLAMPS identically in
    both engines (2024-01-31 + 1 month = 2024-02-29) — the compared
    rows include month-end source dates, so a ceiling-vs-clamp
    divergence hash-fails. All outputs are DATE (the timestamp-free
    output doctrine). Scale: map-only expressions."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT o_orderkey,
               CAST(o_orderdate
                    + make_interval(0, o_orderkey % 13, 0, 0, 0, 0, 0)
                    AS DATE) AS plus_months,
               CAST(o_orderdate
                    + make_interval(0, 0, 0, o_orderkey % 29, 0, 0, 0)
                    AS DATE) AS plus_days,
               last_day(add_months(o_orderdate, o_orderkey % 13))
                 AS month_end,
               CAST(date_trunc('quarter', o_orderdate) AS DATE)
                 AS quarter_start
        FROM orders
        WHERE o_orderkey <= {_IVL_KEY_CAP}
        ORDER BY o_orderkey
        """
    )


_ARR_KEY_CAP = 1024


@query(
    "q460_array_mutation_functions",
    oracle=f"""
    WITH p AS (
      SELECT o_orderkey, o_orderstatus AS s,
             split_part(o_orderpriority, '-', 1) AS p1,
             split_part(o_orderpriority, '-', 2) AS p2
      FROM orders
      WHERE o_orderkey <= {_ARR_KEY_CAP}
    )
    SELECT o_orderkey,
           p1 || '|' || s || '|' || p2 AS inserted,
           s || '|' || p1 || '|' || p2 AS prepended,
           CASE WHEN s = 'F' THEN p1 ELSE s || '|' || p1 END AS compacted,
           p2 AS removed,
           p1 || '|' || p2 AS distincted,
           CAST(3 AS INT) AS n_inserted
    FROM p ORDER BY o_orderkey
    """,
    tags=("array", "mutation", "functions"),
)
def q460_array_mutation_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-side array edits over split(priority, '-') = [digit,
    word]: array_insert at position 2, array_prepend, array_compact
    over a NULLIF-poisoned pair (status 'F' rows carry a real NULL to
    drop), array_remove of a present element, array_distinct over a
    deliberate duplicate. Every result is concat_ws-flattened (the
    scalar-output doctrine) and the oracle replays each as CLOSED-FORM
    string arithmetic over the same row — '||' concatenation and CASE,
    never DuckDB's list functions — so both engines' list semantics
    are checked against independent arithmetic, not against each
    other. Scale: map-only."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        WITH p AS (
          SELECT o_orderkey, o_orderstatus AS s,
                 split(o_orderpriority, '-') AS parts
          FROM orders
          WHERE o_orderkey <= {_ARR_KEY_CAP}
        )
        SELECT o_orderkey,
               concat_ws('|', array_insert(parts, 2, s)) AS inserted,
               concat_ws('|', array_prepend(parts, s)) AS prepended,
               concat_ws('|', array_compact(
                 array(nullif(s, 'F'), parts[0]))) AS compacted,
               concat_ws('|', array_remove(
                 array(parts[0], parts[1], parts[0]), parts[0])) AS removed,
               concat_ws('|', array_distinct(
                 array(parts[0], parts[1], parts[0]))) AS distincted,
               CAST(size(array_insert(parts, 2, s)) AS INT) AS n_inserted
        FROM p ORDER BY o_orderkey
        """
    )


_CAST_KEY_CAP = 2048


@query(
    "q461_try_cast_quarantine",
    oracle=f"""
    SELECT o_orderkey,
           TRY_CAST(o_orderpriority AS INT) AS full_prio_is_null,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_digit,
           TRY_CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
           TRY_CAST('2024-13-' ||
                    lpad(CAST(o_orderkey % 28 + 1 AS VARCHAR), 2, '0')
                    AS DATE) AS bad_month_is_null,
           TRY_CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE)
             AS date_roundtrip
    FROM orders
    WHERE o_orderkey <= {_CAST_KEY_CAP}
    ORDER BY o_orderkey
    """,
    tags=("try-cast", "error-safe", "quarantine"),
)
def q461_try_cast_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_cast NULL-on-error, value-replayed on both engines (DuckDB
    has TRY_CAST with the same contract): the full priority string
    ('1-URGENT') quarantines to NULL while its leading digit parses;
    a constructed month-13 date is NULL; and the key/date string
    round-trips return the original values exactly — the cast-shaped
    sibling of q449's try_* arithmetic lane, i.e. the reference's
    scrub posture (one poisoned value becomes NULL, the task never
    dies). Scale: map-only."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT o_orderkey,
               try_cast(o_orderpriority AS INT) AS full_prio_is_null,
               try_cast(substring(o_orderpriority, 1, 1) AS INT) AS prio_digit,
               try_cast(CAST(o_orderkey AS STRING) AS BIGINT) AS key_roundtrip,
               try_cast(concat('2024-13-',
                               lpad(CAST(o_orderkey % 28 + 1 AS STRING),
                                    2, '0')) AS DATE) AS bad_month_is_null,
               try_cast(date_format(o_orderdate, 'yyyy-MM-dd') AS DATE)
                 AS date_roundtrip
        FROM orders
        WHERE o_orderkey <= {_CAST_KEY_CAP}
        ORDER BY o_orderkey
        """
    )


_COLL_KEY_CAP = 4096


@query(
    "q462_collated_case_insensitive_grouping",
    oracle=f"""
    SELECT lower(o_orderpriority) AS prio_ci,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({_CENTS}) AS BIGINT) AS total_cents,
           CAST(COUNT(DISTINCT CASE WHEN o_orderkey % 2 = 0
                                    THEN upper(o_orderpriority)
                                    ELSE lower(o_orderpriority) END)
                AS BIGINT) AS n_case_variants
    FROM orders
    WHERE o_orderkey <= {_COLL_KEY_CAP}
    GROUP BY 1 ORDER BY 1
    """,
    tags=("collation", "case-insensitive", "aggregation"),
)
def q462_collated_case_insensitive_grouping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark 4 collation surface: a deterministically case-mangled
    priority column (UPPER on even keys, lower on odd) groups under
    collate(k, 'UTF8_LCASE'), and the CI groups must equal the
    oracle's GROUP BY lower(k) — same grain, same counts, same exact
    cents. The output key is lower()-normalized because a CI group's
    representative value is engine-arbitrary. n_case_variants is a
    BINARY (default-collation) COUNT(DISTINCT) inside each CI group —
    2 wherever both case forms occur, proving the collation did the
    merging rather than the data being single-cased. Money rides the
    exact cents lane (r13 lint doctrine). Scale: one pruned scan, one
    shuffle on the 5-value collated key."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        WITH k AS (
          SELECT CASE WHEN o_orderkey % 2 = 0
                      THEN upper(o_orderpriority)
                      ELSE lower(o_orderpriority) END AS kv,
                 {_CENTS} AS cents
          FROM orders WHERE o_orderkey <= {_COLL_KEY_CAP}
        )
        SELECT lower(min(kv)) AS prio_ci,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               CAST(COUNT(DISTINCT kv) AS BIGINT) AS n_case_variants
        FROM k
        GROUP BY collate(kv, 'UTF8_LCASE')
        ORDER BY prio_ci
        """
    )
