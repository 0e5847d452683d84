"""Data-quality rules: declarative checks evaluated in ONE aggregation
pass — the generalization of the reference's single DQ probe (null
location_key count after the fact join, process_covid_dds.py:75-77,
SURVEY.md §2.2 P7) into an engine facility.

Row-level rules (not-null / range / set membership / custom predicate)
compile to ``sum(violation)`` aggregates over one scan — no shuffle
beyond the final 1-row agg, any number of rules. Dataset-level rules
(referential integrity, ``fk_audit``; functional dependencies,
``fd_profile``) need their own shapes (anti-join, distinct count) and
run as separate small plans.

``dq_report`` returns a DataFrame (rule, violations, total, pass_ratio)
— pipeline-composable; ``check`` raises on violation for use as a gate.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@dataclass(frozen=True)
class Rule:
    """A named row-level predicate that every row must satisfy."""

    name: str
    predicate: Column  # True = row passes


def not_null(col: str) -> Rule:
    return Rule(f"not_null({col})", F.col(col).isNotNull())


def in_range(col: str, lo=None, hi=None) -> Rule:
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col(col) >= lo)
    if hi is not None:
        pred = pred & (F.col(col) <= hi)
    return Rule(f"in_range({col})", F.col(col).isNull() | pred)


def in_set(col: str, values: tuple) -> Rule:
    return Rule(
        f"in_set({col})", F.col(col).isNull() | F.col(col).isin(*values)
    )


def dq_report(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate all row-level rules in one aggregation pass; one output
    row per rule: (rule, violations, total, pass_ratio)."""
    aggs = [F.count(F.lit(1)).alias("__total")] + [
        F.sum((~r.predicate).cast("long")).alias(f"__v{i}")
        for i, r in enumerate(rules)
    ]
    row = df.agg(*aggs)
    per_rule = [
        row.select(
            F.lit(r.name).alias("rule"),
            F.col(f"__v{i}").alias("violations"),
            F.col("__total").alias("total"),
        )
        for i, r in enumerate(rules)
    ]
    out = per_rule[0]
    for p in per_rule[1:]:
        out = out.unionByName(p)
    return out.withColumn(
        "pass_ratio",
        F.round(
            F.when(F.col("total") > 0, 1 - F.col("violations") / F.col("total"))
            .otherwise(F.lit(1.0)),
            6,
        ),
    )


def check(df: DataFrame, rules: list[Rule]) -> None:
    """Gate: raise ValueError listing every violated rule."""
    bad = [
        (r["rule"], r["violations"])
        for r in dq_report(df, rules).collect()
        if r["violations"] > 0
    ]
    if bad:
        raise ValueError(f"DQ violations: {bad}")


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
    approx: bool = False,
) -> DataFrame:
    """One-pass column profile: per column, total rows, NULL count and
    (null-excluded) distinct count — the schema-drift / join-key sanity
    report a warehouse runs before trusting a new table drop. Min/max
    are deliberately omitted: their string rendering is engine-specific
    and the per-type extremes are better served by typed queries.

    Output: (col_name, n_rows, n_nulls, n_distinct), one row per column,
    computed in a SINGLE aggregation job.

    Scale: exact multi-column COUNT(DISTINCT) makes Catalyst expand the
    input ×(k+1) before one shuffle — fine to ~a dozen profiled columns.
    With ``approx=True`` the distinct counts come from HLL++ sketches:
    plain partial aggregates, NO row expansion — the 100 TB default
    (±2% error on counts, exact null/row totals either way)."""
    cols = cols or df.columns
    distinct = F.approx_count_distinct if approx else F.countDistinct
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.isnull(c).cast("bigint")).alias(f"__nulls_{c}"))
        aggs.append(distinct(c).alias(f"__nd_{c}"))
    row = df.agg(*aggs)
    stacked = ", ".join(f"'{c}', `__nulls_{c}`, `__nd_{c}`" for c in cols)
    return row.selectExpr(
        f"stack({len(cols)}, {stacked}) AS (col_name, n_nulls, n_distinct)",
        "__n AS n_rows",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct")


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "char_entropy_bits",
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution, in
    bits — the gibberish / binary-junk / key-mash quality signal:
    natural prose sits ~3.5–4.5 bits, base64 blobs and random bytes
    push toward 6, single-character spam collapses toward 0.

    Computed as ``ln(n) − Σ cᵢ·ln(cᵢ) / n`` over per-char counts, so
    every log argument is an INTEGER (the perplexity float policy:
    cross-engine-stable ln inputs; only the final mean is rounded, to
    4 dp). Text is first stripped to printable ASCII on both engines —
    Java regex splits UTF-16 code units while C engines split UTF-8
    chars, so non-ASCII would silently diverge.

    Shape: char explode (zero shuffle) → (doc, char) count with
    map-side combine → per-doc fold whose second shuffle carries ≤
    |alphabet| rows per doc. Documents with no printable chars drop
    out (entropy of nothing is undefined, not 0)."""
    ascii_only = F.regexp_replace(F.col(text_col), r"[^\x20-\x7e]", "")
    chars = df.select(
        F.col(id_col),
        F.explode(F.split(ascii_only, "")).alias("__ch"),
    ).where(F.col("__ch") != "")
    counts = chars.groupBy(id_col, "__ch").agg(F.count(F.lit(1)).alias("__k"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum(F.col("__k") * F.log(F.col("__k"))).alias("__s"),
            F.sum("__k").alias("__n"),
        )
        .select(
            id_col,
            F.round(
                (F.log(F.col("__n")) - F.col("__s") / F.col("__n"))
                / F.lit(math.log(2.0)),
                4,
            ).alias(out_col),
        )
    )


def mask_columns(df: DataFrame, policies: dict) -> DataFrame:
    """Column-level masking for governed egress (the structured-column
    complement of ``functions/text.scrub_pii``): apply a per-column
    policy while leaving every other column intact.

    Policies: ``"hash"`` (sha2-256 of the string form — stable join/
    groupBy token, irreversible), ``"null"`` (type-preserving NULL —
    for columns the consumer may not see at all), ``"last4"`` (mask all
    but the trailing 4 characters — account/phone display convention),
    or any ``Column`` expression for custom rules. Pure projections —
    zero shuffle, pushes through the scan; a masked VIEW of a 100 TB
    table costs whatever the consumer's query costs."""
    from pyspark.sql import Column as _Col

    out = df
    for col, policy in policies.items():
        if col not in df.columns:
            raise ValueError(f"mask_columns: unknown column {col!r}")
        c = F.col(col)
        if isinstance(policy, _Col):
            expr = policy
        elif policy == "hash":
            expr = F.sha2(c.cast("string"), 256)
        elif policy == "null":
            expr = F.lit(None).cast(df.schema[col].dataType)
        elif policy == "last4":
            s = c.cast("string")
            expr = F.concat(
                F.expr(
                    f"repeat('*', greatest(length(cast({col} as string)) - 4, 0))"
                ),
                F.substring(s, -4, 4),
            )
        else:
            raise ValueError(f"mask_columns: unknown policy {policy!r}")
        out = out.withColumn(col, expr)
    return out


# PII patterns shared by detect + redact. Kept to RE2-safe syntax
# (char classes only — no lookaround, no \b) so the DuckDB oracle's
# regexp engine matches Java's semantics exactly; [.] not \. because
# the pattern strings cross an f-string/SQL boundary in oracles.
PII_PATTERNS = (
    ("EMAIL", r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+[.][A-Za-z]+"),
    ("PHONE", r"[0-9]{3}-[0-9]{3}-[0-9]{4}"),
    ("IP", r"[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"),
)


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    patterns: tuple = PII_PATTERNS,
) -> DataFrame:
    """Detect-and-redact PII spans (emails, phone numbers, IPv4s) — the
    scrub step every training-data pipeline runs before text leaves the
    curation boundary. Appends ``n_<label>`` match counts (on the
    ORIGINAL text, so audits see what was removed) and a ``redacted``
    column with each span replaced by its ``<LABEL>`` token, patterns
    applied in declaration order (emails first: their digit runs must
    not be double-counted as phones/IPs by later passes).

    Pure codegen'd projection — regexp_count + chained regexp_replace,
    zero shuffles at any corpus size. Patterns are a parameter:
    production callers extend with locale-specific ids (IBAN, SSN,
    national-id shapes) without touching the plumbing."""
    out = df
    for label, pat in patterns:
        out = out.withColumn(
            f"n_{label.lower()}s",
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("int"),
        )
    red = F.col(text_col)
    for label, pat in patterns:
        red = F.regexp_replace(red, pat, f"<{label}>")
    return out.withColumn("redacted", red)


def fd_profile(
    df: DataFrame, fds: "list[tuple[tuple[str, ...], str]]"
) -> DataFrame:
    """Functional-dependency audit (the discovery primitive of
    Deequ/TANE-style data profiling): for each candidate ``lhs -> rhs``
    report how badly the dependency is violated — ``g3``-style error
    counts an optimizer, a schema-inference pass, or a data contract
    gate all consume.

    Per FD: one map-side-combining rollup to ``(lhs, rhs)`` pairs, one
    regroup to lhs groups. A group violates when it maps to >1 distinct
    rhs value; ``violating_rows`` counts the rows one would have to
    delete beyond each group's majority value (the exact g3 repair
    cost). NULL rhs counts as its own value (NULL-safe grouping), so a
    half-null column cannot masquerade as dependent. Output: one row
    per FD — ``(fd, n_groups, violating_groups, violating_rows,
    holds)``."""
    if not fds:
        raise ValueError("fds must be non-empty")
    outs = []
    for lhs, rhs in fds:
        name = f"{','.join(lhs)} -> {rhs}"
        pairs = df.groupBy(*lhs, rhs).agg(F.count(F.lit(1)).alias("_c"))
        groups = pairs.groupBy(*lhs).agg(
            F.count(F.lit(1)).alias("_nv"),
            F.sum("_c").alias("_rows"),
            F.max("_c").alias("_maj"),
        )
        outs.append(
            groups.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).alias("n_groups"),
                F.sum((F.col("_nv") > 1).cast("bigint")).alias(
                    "violating_groups"
                ),
                F.sum(F.col("_rows") - F.col("_maj")).alias(
                    "violating_rows"
                ),
                (F.max("_nv") <= 1).alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def fk_audit(
    edges: "list[tuple[str, DataFrame, str, DataFrame, str]]",
) -> DataFrame:
    """Referential-integrity audit as ONE relation — for each declared
    FK edge ``(name, child, fk_col, parent, pk_col)``: how many child
    rows carry a non-null FK with no parent (orphans, the scalable
    anti-join form of NOT EXISTS), how many are null, and whether the
    edge holds. A schema's whole FK graph audits in one DataFrame a
    contract gate or dashboard consumes.

    Per edge, ONE scan of the child (ADVICE r9 — the previous form
    scanned it twice: full/null counts plus a separate orphan
    anti-join): the child is first rolled up to per-FK-value counts
    (map-side combining, so the shuffle carries |distinct fk| rows,
    not |child|, and all NULL FKs collapse into a single group row —
    no NULL-key skew at scale), then LEFT-joined against the DISTINCT
    parent keys; n_child / n_null_fk / n_orphans all fold out of that
    one joined relation in a single aggregate. Joining distinct-vs-
    distinct also means a duplicated parent key cannot double-count
    children. Output is |edges| rows."""
    if not edges:
        raise ValueError("edges must be non-empty")
    outs = []
    for name, child, fk_col, parent, pk_col in edges:
        per_fk = child.groupBy(F.col(fk_col).alias("__fk")).agg(
            F.count(F.lit(1)).alias("__cnt")
        )
        pk = parent.select(F.col(pk_col).alias("__pk")).distinct()
        j = per_fk.join(pk, F.col("__fk") == F.col("__pk"), "left")
        # coalesce: an EMPTY child must report 0s, not NULL sums
        stats = j.agg(
            F.coalesce(F.sum("__cnt"), F.lit(0)).alias("n_child"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__fk").isNull(), F.col("__cnt")
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias("n_null_fk"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__fk").isNotNull() & F.col("__pk").isNull(),
                        F.col("__cnt"),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias("n_orphans"),
        )
        outs.append(
            stats.select(
                F.lit(name).alias("fk"),
                F.col("n_child").cast("bigint").alias("n_child"),
                F.col("n_null_fk").cast("bigint").alias("n_null_fk"),
                F.col("n_orphans").cast("bigint").alias("n_orphans"),
                (F.col("n_orphans") == 0).alias("holds"),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


def corr_matrix(
    df: DataFrame,
    cols: "list[str]",
    quant: float = 100.0,
) -> DataFrame:
    """Pairwise Pearson correlations of numeric columns in ONE
    aggregation pass — the profiling matrix a feature-selection or
    schema-drift check reads (complements `fd_profile` / `fk_audit`:
    those audit structure, this audits linear signal).

    Exactness on the lattice: every column is quantized ONCE to
    integers (``round(x·quant)``), all five moments per pair (Σx, Σy,
    Σxy, Σx², Σy²) accumulate in DECIMAL(38,0) — exact at any
    partitioning — and

        r = (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx²) · √(n·Σy² − Σy²))

    is one deterministic IEEE expression per pair (sqrt is
    correctly-rounded by IEEE-754, so both engines agree bit-for-bit;
    the quantization constant cancels out of r). Zero-variance columns
    yield NULL via try_divide. Rows with a NULL in ANY profiled column
    are excluded (listwise deletion, the convention that keeps all
    pairs on the same row set — per-pair deletion would need k² count
    columns).

    Scale: one map-side-combining aggregate producing 5·C(k,2) + k
    scalars; nothing downstream is corpus-sized. k beyond ~30 columns
    multiplies the aggregate width quadratically — profile in column
    batches past that."""
    if len(cols) < 2:
        raise ValueError(f"need >= 2 columns, got {cols}")
    d38 = "decimal(38,0)"
    cond = None
    for c in cols:
        cnd = F.col(c).isNotNull()
        cond = cnd if cond is None else (cond & cnd)
    q = df.filter(cond).select(
        *[
            F.round(F.col(c).cast("double") * quant, 0)
            .cast("long")
            .alias(f"__q{i}")
            for i, c in enumerate(cols)
        ]
    )
    aggs = [F.count(F.lit(1)).cast(d38).alias("__n")]
    for i in range(len(cols)):
        xi = F.col(f"__q{i}").cast(d38)
        aggs.append(F.sum(xi).alias(f"__s{i}"))
        aggs.append(F.sum(xi * xi).alias(f"__ss{i}"))
        for j in range(i + 1, len(cols)):
            xj = F.col(f"__q{j}").cast(d38)
            aggs.append(F.sum(xi * xj).alias(f"__p{i}_{j}"))
    m = q.agg(*aggs)
    from covid_data_pipeline_spark.functions.scalar import round_stable

    pairs = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            n = F.col("__n")
            num = (n * F.col(f"__p{i}_{j}")
                   - F.col(f"__s{i}") * F.col(f"__s{j}")).cast("double")
            vx = F.sqrt(
                (n * F.col(f"__ss{i}")
                 - F.col(f"__s{i}") * F.col(f"__s{i}")).cast("double")
            )
            vy = F.sqrt(
                (n * F.col(f"__ss{j}")
                 - F.col(f"__s{j}") * F.col(f"__s{j}")).cast("double")
            )
            pairs.append(
                F.struct(
                    F.lit(cols[i]).alias("col_x"),
                    F.lit(cols[j]).alias("col_y"),
                    round_stable(F.try_divide(num, vx * vy), 6).alias("r"),
                )
            )
    return (
        m.select(
            F.explode(F.array(*pairs)).alias("__pair"),
            F.col("__n").cast("bigint").alias("n"),
        )
        .select("__pair.col_x", "__pair.col_y", "n", "__pair.r")
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    quant: float = 100.0,
) -> DataFrame:
    """Spearman rank correlation with exact tie handling — the
    monotone-signal complement of :func:`corr_matrix`'s Pearson (a
    perfect nonlinear monotone relation scores rho = 1 here and < 1
    there). Standard tie treatment: fractional AVERAGE ranks, kept
    exact by DOUBLING — ``rank2x(v) = 2·#{values < v} + #{= v} + 1``
    is integral for every tie pattern — then rho is Pearson over the
    doubled ranks (the 2x scale cancels), computed from DECIMAL(38,0)
    moments with one IEEE expression (:func:`corr_matrix`'s rule).

    Scale shape: each column compresses to its distinct-value domain
    (one rollup); the "count of smaller values" map over that relation
    uses the value_order_rank TWO-LEVEL construction (range buckets
    from broadcast min/max -> per-bucket totals -> cumsum over the
    <= 256-row bucket relation -> within-bucket partitioned cumsum) —
    a continuous column's distinct domain can approach corpus size, so
    a flat window over it would be the single-partition wart the
    Mann-Whitney small-domain idiom gets away with. Two equi-joins
    attach ranks back to rows. Listwise NULL deletion, as in
    :func:`corr_matrix`. Returns one row: ``(n, rho)``."""
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.round(F.col(x_col).cast("double") * quant, 0)
        .cast("long")
        .alias("__x"),
        F.round(F.col(y_col).cast("double") * quant, 0)
        .cast("long")
        .alias("__y"),
    )
    base = base.localCheckpoint(eager=False)  # feeds 2 rollups + join

    def rank_map(col: str, out: str, num_buckets: int = 256) -> DataFrame:
        pv = base.groupBy(col).agg(F.count(F.lit(1)).alias("__cnt"))
        vm = pv.agg(
            F.min(col).alias("__vmin"), F.max(col).alias("__vmax")
        )
        # bcast: const(1) scalar min/max agg
        keyed = pv.crossJoin(F.broadcast(vm)).withColumn(
            "__b",
            F.expr(
                f"CAST(({col} - __vmin) div"
                f" ((__vmax - __vmin) div {num_buckets} + 1) AS BIGINT)"
            ),
        ).drop("__vmin", "__vmax")
        btot = keyed.groupBy("__b").agg(F.sum("__cnt").alias("__bt"))
        w_off = Window.orderBy("__b").rowsBetween(
            Window.unboundedPreceding, Window.currentRow - 1
        )  # <= num_buckets rows: the only flat window
        offs = btot.withColumn(
            "__off", F.coalesce(F.sum("__bt").over(w_off), F.lit(0))
        ).select("__b", "__off")
        w_in = Window.partitionBy("__b").orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow - 1
        )
        return (
            # bcast: const(num_buckets) offset table
            keyed.join(F.broadcast(offs), "__b")
            .withColumn(
                "__less",
                F.col("__off")
                + F.coalesce(F.sum("__cnt").over(w_in), F.lit(0)),
            )
            .select(
                col, (2 * F.col("__less") + F.col("__cnt") + 1).alias(out)
            )
        )
    ranked = base.join(rank_map("__x", "__rx"), "__x").join(
        rank_map("__y", "__ry"), "__y"
    )
    out = corr_matrix(ranked, ["__rx", "__ry"], quant=1.0)
    return out.select("n", F.col("r").alias("rho"))


def cramers_v_matrix(
    df: DataFrame,
    cols: "list[str]",
) -> DataFrame:
    """Pairwise Cramér's V association of CATEGORICAL columns — the
    categorical sibling of :func:`corr_matrix` (that one reads linear
    signal off numeric columns; this reads contingency dependence off
    labels/flags/buckets): the profiling matrix behind "which
    dimensions are redundant" in a feature or stratification audit.

    Per pair (x, y): Pearson chi² over the x × y contingency grid with
    the exact rational per-cell term ``(O·n − R·C)²/(n·R·C)`` carried
    in DECIMAL(38,0) BIGINT counts (the grouped_independence_chi2
    contract: each cell spends one correctly-rounded division, summed
    in DECIMAL), then

        V = sqrt( chi² / (n · min(R−1, C−1)) )

    computed from the UNROUNDED-at-4dp decimal chi² sum (exact on the
    1e-6 lattice), so sqrt is one deterministic IEEE op. V is NULL
    (try_divide) when either column is constant (min dim 0). Output:
    one row per unordered pair ``(col_x, col_y, n, chi2, dof, v)``
    with col_x < col_y in `cols` order. NULL categories excluded
    pairwise (listwise per pair).

    Scale shape: per pair, three map-side-combining rollups +
    |categories|-sized joins (the chi2 pattern); C(k,2) independent
    pair plans unioned — each plan prunes its scan to two columns."""
    if len(cols) < 2:
        raise ValueError(f"need >= 2 columns, got {cols}")
    from covid_data_pipeline_spark.functions.scalar import round_stable

    d38 = "decimal(38,0)"
    outs = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            cx, cy = cols[i], cols[j]
            base = df.select(
                F.col(cx).cast("string").alias("__r"),
                F.col(cy).cast("string").alias("__c"),
            ).filter(F.col(cx).isNotNull() & F.col(cy).isNotNull())
            obs = base.groupBy("__r", "__c").agg(
                F.count(F.lit(1)).cast(d38).alias("__o")
            )
            obs = obs.localCheckpoint(eager=False)  # feeds 4 rollups
            rows = obs.groupBy("__r").agg(
                F.sum("__o").cast(d38).alias("__rt")
            )
            colt = obs.groupBy("__c").agg(
                F.sum("__o").cast(d38).alias("__ct")
            )
            ng = obs.agg(
                F.sum("__o").cast(d38).alias("__n"),
                F.countDistinct("__r").alias("__nr"),
                F.countDistinct("__c").alias("__nc"),
            )
            grid = (
                rows.crossJoin(colt)  # marginal grid: |R|x|C|, model-sized
                .join(obs, ["__r", "__c"], "left")
                .withColumn(
                    "__o", F.coalesce(F.col("__o"), F.lit(0).cast(d38))
                )
                # bcast: const(1) scalar moments
                .crossJoin(F.broadcast(ng))
            )
            diff = (
                F.col("__o") * F.col("__n")
                - F.col("__rt") * F.col("__ct")
            ).cast(d38)
            term = F.round(
                (diff * diff).cast(d38).cast("double")
                / (F.col("__n") * F.col("__rt") * F.col("__ct"))
                .cast(d38)
                .cast("double"),
                6,
            ).cast("decimal(18,6)")
            agg = grid.groupBy().agg(
                F.sum(term).alias("__chi2d"),
                F.max("__n").alias("__n2"),
                F.max("__nr").alias("__nr2"),
                F.max("__nc").alias("__nc2"),
            )
            mindim = F.least(
                F.col("__nr2") - 1, F.col("__nc2") - 1
            ).cast(d38)
            outs.append(
                agg.select(
                    F.lit(cx).alias("col_x"),
                    F.lit(cy).alias("col_y"),
                    F.col("__n2").cast("bigint").alias("n"),
                    F.round(F.col("__chi2d"), 4)
                    .cast("double")
                    .alias("chi2"),
                    (
                        (F.col("__nr2") - 1) * (F.col("__nc2") - 1)
                    ).cast("bigint").alias("dof"),
                    round_stable(
                        F.sqrt(
                            F.try_divide(
                                F.col("__chi2d").cast("double"),
                                (F.col("__n2") * mindim).cast("double"),
                            )
                        ),
                        6,
                    ).alias("v"),
                )
            )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


def entropy_profile(
    df: DataFrame,
    cols: "list[str]",
) -> DataFrame:
    """Per-column Shannon entropy profile — ``(col_name, n, n_distinct,
    entropy, norm_entropy)`` for each requested column: the schema-
    audit companion to :func:`fd_profile` (that one finds functional
    structure; this measures information content — a near-zero entropy
    column is a constant in disguise, a near-1 normalized entropy key
    is a candidate partition/salt column).

    Exactness (the micro-nats lattice rule): with per-value counts
    c_v and n = Σc_v,

        H = ln(n) − (Σ_v c_v·ln(c_v)) / n

    every ln is rounded ONCE to nano-nats (BIGINT), the weighted sum
    is exact BIGINT, and H = (ln(n)_nano·n − Σ c_v·ln(c_v)_nano) /
    (n·1e9) spends one division. norm_entropy = H / ln(n_distinct)
    (NULL via try_divide when a column is constant) reuses the same
    integer numerator against ln(d)_nano·n so it is NOT a
    rounded-over-rounded composition. NULLs count as a category (a
    90%-NULL column should read as low-entropy, not as its non-NULL
    residue).

    Scale shape: one map-side-combining rollup to |distinct| per
    column + one scalar agg; |cols| independent plans unioned."""
    if not cols:
        raise ValueError("cols must be non-empty")
    from covid_data_pipeline_spark.functions.scalar import round_stable

    outs = []
    for c in cols:
        pv = df.groupBy(
            F.col(c).cast("string").alias("__v")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        ln_nano = F.round(
            F.log(F.col("__c").cast("double")) * F.lit(1e9), 0
        ).cast("bigint")
        # accumulate c·ln(c)_nano in DECIMAL(38,0): the BIGINT product
        # is safe (~1e16 per value) but the SUM overflows int64 past
        # ~1e9 rows under ANSI mode
        agg = pv.agg(
            F.sum("__c").alias("__n"),
            F.count(F.lit(1)).alias("__d"),
            F.sum(
                (F.col("__c") * ln_nano).cast("decimal(38,0)")
            ).alias("__s"),
        )
        hn = F.round(
            F.log(F.col("__n").cast("double")) * F.lit(1e9), 0
        ).cast("bigint")
        dn = F.round(
            F.log(F.col("__d").cast("double")) * F.lit(1e9), 0
        ).cast("bigint")
        num = (
            hn.cast("decimal(38,0)") * F.col("__n").cast("decimal(38,0)")
            - F.col("__s")
        )
        outs.append(
            agg.select(
                F.lit(c).alias("col_name"),
                F.col("__n").cast("bigint").alias("n"),
                F.col("__d").cast("bigint").alias("n_distinct"),
                round_stable(
                    num.cast("double")
                    / (F.col("__n").cast("double") * F.lit(1e9)),
                    6,
                ).alias("entropy"),
                round_stable(
                    F.try_divide(
                        num.cast("double"),
                        (
                            dn.cast("decimal(38,0)")
                            * F.col("__n").cast("decimal(38,0)")
                        ).cast("double"),
                    ),
                    6,
                ).alias("norm_entropy"),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


def theil_u(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil's uncertainty coefficient (Theil, "Statistical
    Decomposition Analysis" 1972) — the ASYMMETRIC categorical
    association that Cramér's V cannot express: U(X|Y) = I(X;Y)/H(X)
    is the fraction of X's entropy explained by knowing Y. A
    perfectly-derivable column scores 1 in one direction and < 1 in
    the other, which is exactly the redundant-feature/leakage question
    (V is symmetric and cannot say WHICH column is the derived one).

    Exactness: with the :func:`entropy_profile` nano-nat lattice, each
    entropy's integer numerator is num_Z = ln(n)_nano·n − Σ c·ln(c)_nano
    over the (marginal or joint) value counts; all three share the
    denominator n·1e9, so

        U(X|Y) = (num_X + num_Y − num_XY) / num_X

    is an EXACT integer rational — one correctly-rounded division, no
    rounded-over-rounded composition. Returns one row: ``(n, h_x, h_y,
    h_xy, mi, u_x_given_y, u_y_given_x)``; a constant column has
    H = 0 and its U is NULL via try_divide. Listwise NULL deletion
    (association needs both sides of a row).

    Scale shape: one |X×Y|-sized map-side-combining rollup; marginals
    regroup from it; three scalar folds — nothing corpus-sized
    survives the first aggregate."""
    from covid_data_pipeline_spark.functions.scalar import round_stable

    d38 = "decimal(38,0)"
    base = df.select(
        F.col(x_col).cast("string").alias("__x"),
        F.col(y_col).cast("string").alias("__y"),
    ).filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    xy = base.groupBy("__x", "__y").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    xy = xy.localCheckpoint(eager=False)  # feeds 3 entropy folds

    def ln_nano(c) -> Column:
        return F.round(
            F.log(c.cast("double")) * F.lit(1e9), 0
        ).cast("bigint")

    def num_for(counts: DataFrame, alias: str) -> DataFrame:
        """Integer entropy numerator ln(n)_nano·n − Σ c·ln(c)_nano."""
        agg = counts.agg(
            F.sum("__c").cast("bigint").alias("__n"),
            F.sum(
                (F.col("__c") * ln_nano(F.col("__c"))).cast(d38)
            ).alias("__s"),
        )
        return agg.select(
            F.col("__n").alias(f"__n_{alias}"),
            (
                ln_nano(F.col("__n")).cast(d38)
                * F.col("__n").cast(d38)
                - F.col("__s")
            ).alias(f"__num_{alias}"),
        )

    nx = num_for(
        xy.groupBy("__x").agg(F.sum("__c").alias("__c")), "x"
    )
    ny = num_for(
        xy.groupBy("__y").agg(F.sum("__c").alias("__c")), "y"
    )
    nxy = num_for(xy, "xy")
    j = (
        # bcast: const(1) scalar entropy numerators
        nx.crossJoin(F.broadcast(ny)).crossJoin(F.broadcast(nxy))
    )
    n = F.col("__n_x")
    den = n.cast("double") * F.lit(1e9)
    mi_num = (
        F.col("__num_x") + F.col("__num_y") - F.col("__num_xy")
    )
    return j.select(
        n.cast("bigint").alias("n"),
        round_stable(F.col("__num_x").cast("double") / den, 6)
        .alias("h_x"),
        round_stable(F.col("__num_y").cast("double") / den, 6)
        .alias("h_y"),
        round_stable(F.col("__num_xy").cast("double") / den, 6)
        .alias("h_xy"),
        round_stable(mi_num.cast("double") / den, 6).alias("mi"),
        round_stable(
            F.try_divide(
                mi_num.cast("double"), F.col("__num_x").cast("double")
            ),
            6,
        ).alias("u_x_given_y"),
        round_stable(
            F.try_divide(
                mi_num.cast("double"), F.col("__num_y").cast("double")
            ),
            6,
        ).alias("u_y_given_x"),
    )
