package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Cleaning

/** Projection / cleaning / scalar-function coverage — SURVEY §2.2 P1-P8
  * and §2.3 F1-F17 — expressed over the driver testdata with DuckDB
  * oracles. Each query exercises the operator through the `graft.ops`
  * library where one exists, so the oracle validates the library code,
  * not a one-off expression.
  */
object OpsQueries extends QuerySet {
  import Parity._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1+P2: drop ID/PII-style columns (ignore-if-missing) + ordered select.
    "p01_drop_project" -> ((s, d) => {
      val dropped = Cleaning.dropColumns(Tables.customer(s, d),
        Seq("c_name", "not_a_column"))
      Cleaning.selectOrdered(dropped,
        Seq("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"))
        .orderBy(col("c_custkey")).limit(50)
    }),

    // P3: inject absent feature columns as constant 0.
    "p03_inject_missing" -> ((s, d) =>
      Cleaning.injectMissing(
        Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal")),
        Seq("c_acctbal", "bonus_points"))
        .orderBy(col("c_custkey")).limit(50)),

    // Last-writer-wins upsert compaction: a change-set (every 3rd
    // customer re-delivered with a new balance, every 30th tombstoned)
    // folded into the snapshot — one max_by aggregation, no join.
    "u01_upsert_compact" -> ((s, d) => {
      val base = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val snap = base
        .withColumn("version", lit(0L)).withColumn("deleted", lit(false))
      val changes = base.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
        .withColumn("version", lit(1L))
        .withColumn("deleted", col("c_custkey") % 10 === 0)
      graft.ops.Upsert.compact(snap, changes, Seq("c_custkey"), "version",
        deletedCol = Some("deleted"))
        .filter(col("c_custkey") <= 200)
        .select(col("c_custkey"), col("c_acctbal"), col("version"))
        .orderBy(col("c_custkey"))
    }),

    // Corpus snapshot diff: between two crawl snapshots (every 10th≡3
    // doc is new, every 10th≡7 dropped, every 6th edited), classify
    // each id added/removed/changed/unchanged by content digest — one
    // full outer join carrying 32-byte md5s, never text.
    "u03_snapshot_diff" -> ((s, d) => {
      // plain scan, no fanOut: the digest projection runs inside the
      // scan and the full outer join's own key exchange provides the
      // parallelism — a round-robin fan-out here would shuttle raw
      // text across an exchange for nothing (PlanSpec-gated)
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 3)
      val newSnap = docs.filter(col("doc_id") % 10 =!= 7)
        .withColumn("text",
          when(col("doc_id") % 6 === 0, concat(col("text"), lit(" updated")))
            .otherwise(col("text")))
      graft.ops.Upsert.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("doc_id")).cast("long").as("id_checksum"))
        .orderBy(col("status"))
    }),

    // Incremental materialized-aggregate refresh: the standing state
    // (orders with o_orderkey % 3 != 0) absorbs the delta's state
    // (the % 3 == 0 rows) by a pure state merge — never rescanning the
    // "settled" rows. The oracle states the defining invariant: merged
    // state ≡ full recompute over all rows.
    "u04_incremental_agg" -> ((s, d) => {
      val src = Tables.orders(s, d).select(col("o_orderkey"),
        (col("o_custkey") % 1000).as("k"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      val standing = graft.ops.Upsert.aggState(
        src.filter(col("o_orderkey") % 3 =!= 0), Seq("k"), "cents")
      val delta = graft.ops.Upsert.aggState(
        src.filter(col("o_orderkey") % 3 === 0), Seq("k"), "cents")
      graft.ops.Upsert.mergeAggState(standing, delta, Seq("k"))
        .select(col("k"), col("n"),
          col("sum_v").cast("long").as("sum_cents"),
          col("min_v").as("min_cents"), col("max_v").as("max_cents"),
          round(col("sum_v").cast("double") / col("n").cast("double"), 2)
            .as("avg_cents"))
        .orderBy(col("k"))
    }),

    // Type-2 SCD history from a change log: lineitem plays the change
    // stream (key = order, version = line number); each change's
    // validity interval closes at the next version, open = current.
    // The synthetic lineitem re-delivers (order, line) pairs, so the
    // log first compacts to one row per (key, version) — exactly the
    // dedup-before-scd2 contract the operator documents. One
    // lead-window pass, oracle-checked against DuckDB's LEAD.
    "u02_scd2_intervals" -> ((s, d) => {
      val changeLog = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(max(col("l_quantity")).as("qty"))
      graft.ops.Upsert.scd2(changeLog, Seq("l_orderkey"), "l_linenumber")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"),
          sum(col("valid_to") - col("valid_from")).as("span_sum"),
          dsum(when(col("is_current"), col("qty"))).as("current_qty"))
    }),

    // P4: deduplication (drop_duplicates over all columns).
    "p04_dedup" -> ((s, d) =>
      Cleaning.dropDuplicates(
        Tables.lineitem(s, d).select(col("l_returnflag"), col("l_linestatus")))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // P5: fillna(0) — nulls manufactured with nullif, then filled back.
    "p05_fillna" -> ((s, d) => {
      val withNulls = Tables.lineitem(s, d)
        .withColumn("disc_n",
          when(col("l_discount") === 0.0, lit(null)).otherwise(col("l_discount")))
      Cleaning.fillNumericNulls(withNulls)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("disc_n")).as("sum_disc"))
        .orderBy(col("l_returnflag"))
    }),

    // P6: dropna on a subset of columns.
    "p06_dropna" -> ((s, d) => {
      val withNulls = Tables.events(s, d)
        .withColumn("v",
          when(col("user_id") % 7 === 0, lit(null)).otherwise(col("value")))
      Cleaning.dropNulls(withNulls, Seq("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("v")).as("sum_v"))
        .orderBy(col("event_type"))
    }),

    // P7: predicate filter then distribution.
    "p07_filter" -> ((s, d) =>
      Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))),

    // P8: validity filter on text blocks (non-blank + marker substring).
    "p08_blocks" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0 && col("text").contains("table"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))),

    // F1+F2+F3+F5: epoch-nanos → timestamp → formatted date/time strings →
    // concat → parse back → epoch seconds (full round trip).
    "f02_parse_roundtrip" -> ((s, d) => {
      val ts = timestamp_micros(col("ts_us"))
      // CAP: slice cover=f02
      Tables.eventsMicros(s, d).filter(col("user_id") < 20)
        .withColumn("ds", date_format(ts, "yyyy-MM-dd"))
        .withColumn("tstr", date_format(ts, "HH:mm:ss"))
        .withColumn("parsed",
          to_timestamp(concat_ws(" ", col("ds"), col("tstr")),
            "yyyy-MM-dd HH:mm:ss"))
        .select(col("event_id"), unix_timestamp(col("parsed")).as("epoch_s"))
        .orderBy(col("event_id")).limit(200)
    }),

    // F9+F10+F18: label→display-string→label round trip + threshold label.
    "f10_label_roundtrip" -> ((s, d) =>
      Tables.lineitem(s, d)
        .withColumn("status",
          when(col("l_quantity") > 25, "FRAUD").otherwise("VALID"))
        .withColumn("back",
          when(upper(col("status")) === "FRAUD", 1).otherwise(0))
        .withColumn("th_label", (col("l_discount") >= 0.05).cast("int"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("back")).as("n_fraud"), sum(col("th_label")).as("n_above"))
        .orderBy(col("l_returnflag"))),

    // F11+F12: currency format → parse back → exact aggregate.
    "f12_currency_roundtrip" -> ((s, d) =>
      Tables.orders(s, d)
        .withColumn("disp", format_string("$%.2f", round(col("o_totalprice"), 2)))
        .withColumn("parsed",
          regexp_replace(col("disp"), "[$]", "").cast("double"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("parsed")).as("sum_parsed"))
        .orderBy(col("o_orderpriority"))),

    // F13+F14: key normalization + key/value extraction from semi-structured
    // props (the log-line split, over the events props payload).
    "f14_kv_extract" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("key",
          regexp_replace(lower(trim(col("event_type"))), " ", "_"))
        .withColumn("k",
          regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long"))
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("key"))),

    // F15+F16: safe numeric coercion with junk → null → 0.0 default.
    "f15_try_cast" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("raw",
          when(col("user_id") % 3 === 0, lit("junk"))
            .otherwise(col("value").cast("string")))
        .withColumn("parsed",
          coalesce(expr("try_cast(raw AS double)"), lit(0.0)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("parsed")).as("sum_parsed"))
        .orderBy(col("event_type"))),

    // Smoothed + leave-one-out target encoding (Micci-Barreca): the
    // supervised categorical feature the reference's alphabetical
    // label-encode can't provide. te is constant per category and loo
    // takes at most two values (binary label), so the DISTINCT frame
    // is category-sized and every double is division of exact integer
    // sums — engine-identical.
    "f19_target_encoding" -> ((s, d) => {
      val df = Tables.events(s, d).select(col("event_type"),
        // when/otherwise, not a bare cast: a null value must land in
        // the ELSE 0 branch exactly like the oracle's CASE
        when(col("value") > 50.0, 1).otherwise(0).as("y"))
      graft.ops.Encodings.targetEncode(df, "event_type", "y", m = 20)
        .select(col("event_type"), col("y"), col("te"), col("loo"))
        .distinct()
        .orderBy(col("event_type"), col("y"))
    }),

    // Hashing-trick encode of two customer categoricals into the 4096
    // signed md5 buckets — vocabulary-free, so there is nothing to fit
    // and nothing to drift. The per-bucket audit (pair count, distinct
    // tokens, signed sum) pins every row's bucket AND sign assignment;
    // n = |s| per bucket exactly when the bucket is collision-free.
    "f20_feature_hash" -> ((s, d) =>
      graft.ops.Encodings.featureHashLong(
        Tables.customer(s, d).select(col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("bigint").as("nat")),
        Seq("seg", "nat"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("token")).as("n_tok"),
          sum(col("sign")).cast("bigint").as("s"))
        .orderBy(col("bucket"))),

    // Declarative expectation suite over lineitem: six contracts
    // (range, positivity, domain, date floor) evaluated in ONE
    // aggregation pass — the qty_lt_30 rule is planted to fail so the
    // violation counting is on the oracle signal, not just zeros.
    // Referential-integrity audit over the star schema's declared FKs
    // plus one deliberately broken relation (events.user_id →
    // customer) whose orphan count is nonzero at every SF — the
    // set-level contract p14's row-level suite scopes out.
    "p17_fk_audit" -> ((s, d) => {
      val E = graft.ops.Expectations
      E.fkOrphans(Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey", "lineitem.order")
        .unionByName(E.fkOrphans(Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey", "lineitem.part"))
        .unionByName(E.fkOrphans(Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", "order.customer"))
        .unionByName(E.fkOrphans(Tables.events(s, d), "user_id",
          Tables.customer(s, d), "c_custkey", "event.user"))
        .orderBy(col("relation"))
    }),

    "p14_expectations" -> ((s, d) =>
      graft.ops.Expectations.check(Tables.lineitem(s, d), Seq(
        "qty_range" -> col("l_quantity").between(1, 50),
        "price_positive" -> (col("l_extendedprice") > 0),
        "disc_range" -> col("l_discount").between(0.0, 0.1),
        "flag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "tax_nonneg" -> (col("l_tax") >= 0),
        "qty_lt_30" -> (col("l_quantity") < 30)))
        .orderBy(col("rule"))),

    // Set-level privacy audit (k-anonymity + l-diversity) over the
    // (event_type, hour-of-day) quasi-identifier: the release gate
    // that catches what row-level PII redaction (t05) cannot — a
    // combination of innocuous columns isolating a small user group.
    // ONE grouped aggregation; output = the violating-group worklist.
    "p15_privacy_audit" -> ((s, d) => {
      val ev = Tables.eventsMicros(s, d)
        .filter(col("user_id").isNotNull && col("ts_us").isNotNull)
        .select(col("event_type"),
          expr("(ts_us div 3600000000) % 24").as("hour"),
          col("user_id"))
      graft.ops.Privacy.violations(ev,
        Seq("event_type", "hour"), "user_id", k = 70, l = 65)
        .orderBy(col("event_type"), col("hour"))
    }),

    // Gini inequality of spend per event type: exact integer pairwise-
    // difference numerator from the cents histogram, one double ratio.
    "a33_gini" -> ((s, d) =>
      graft.ops.Aggregates.gini(
        Tables.events(s, d).select(col("event_type"), col("value")),
        "value", "event_type")
        .orderBy(col("grp"))),

    // Mutual-information feature ranking against the return flag:
    // four discrete candidate features scored in ONE melt + one
    // (feature, value, label) count — marginals re-aggregate from the
    // cell frame, each cell takes one 9dp-rounded ln back onto exact
    // integer counts, so MI / entropies / symmetric uncertainty all
    // sit on the oracle.
    "a35_mutual_info" -> ((s, d) =>
      // Cached form: the cell frame feeds four downstream aggregations;
      // Verify/Bench clear the cache after each query
      graft.ops.FeatureSelect.mutualInfoCached(
        Tables.lineitem(s, d).select(
          col("l_quantity").cast("bigint").as("qty"),
          round(col("l_discount") * 100).cast("bigint").as("disc"),
          round(col("l_tax") * 100).cast("bigint").as("tax"),
          col("l_linenumber").cast("bigint").as("line"),
          col("l_returnflag").as("flag")),
        Seq("qty", "disc", "tax", "line"), "flag").df
        .orderBy(col("feature"))),

    // Bivariate Mahalanobis outlier screen per return flag: quantity ×
    // price cents scored against the group's covariance ellipse. The
    // whole chain — integer moment sums, 2×2 inverse folded into the
    // quadratic form, χ²(2) 99.9% flag — sits on the oracle; output is
    // the per-group audit row (stats + flag count + score profile).
    "a34_mahalanobis" -> ((s, d) =>
      graft.ops.Anomaly.mahalanobis2PerGroup(
        Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
          col("l_quantity").cast("bigint").as("x"),
          round(col("l_extendedprice") * 100).cast("bigint").as("y")),
        "grp", "x", "y", keepStats = true)
        .groupBy(col("grp"))
        .agg(min(col("__n")).as("n"),
          min(col("__mx")).as("mx"), min(col("__my")).as("my"),
          min(col("__vx")).as("vx"), min(col("__vy")).as("vy"),
          min(col("__cxy")).as("cxy"),
          sum(when(col("m2") > 13.8155, 1L).otherwise(0L))
            .as("n_flagged"),
          (sum(col("m2").cast(
              org.apache.spark.sql.types.DecimalType(38, 7)))
            .cast("double") / count(lit(1)).cast("double"))
            .as("mean_m2"),
          max(col("m2")).as("max_m2"))
        .orderBy(col("grp"))),

    // 2-d PCA of quantity × price cents per return flag: closed-form
    // eigendecomposition of the same exact moment sums a34 rides —
    // eigenvalues, variance-explained, sign-canonical principal
    // direction, and the projection self-audit sum(p1^2)/n = l1, all
    // on the oracle.
    "a36_pca2" -> ((s, d) =>
      graft.ops.Anomaly.pca2PerGroup(
        Tables.lineitem(s, d).select(col("l_returnflag").as("grp"),
          col("l_quantity").cast("bigint").as("x"),
          round(col("l_extendedprice") * 100).cast("bigint").as("y")),
        "grp", "x", "y")
        .orderBy(col("grp"))),

    // Kendall τ-b rank correlation between quantity and the price
    // megacent bucket — tie-corrected monotone association from the
    // bounded cell histogram (cell-pair cost = domain², not rows²).
    "a41_kendall_tau" -> ((s, d) =>
      graft.ops.Aggregates.kendallTauBCached(
        Tables.lineitem(s, d)
          .filter(col("l_quantity").isNotNull &&
            col("l_extendedprice").isNotNull)
          .select(col("l_quantity").cast("bigint").as("x"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)" +
              " div 1000000").as("y")),
        "x", "y").df),

    // Spearman rank correlation of quantity vs price cents: Pearson
    // on tie-midranks, ranks from the distinct-value histogram via
    // bucketedPrefixSums (no global window), doubled-rank integer
    // moments in DECIMAL(38,0), one fixed-order double chain — the
    // [-1,1]-scaled complement of a41's concordance count.
    "a43_spearman" -> ((s, d) =>
      graft.ops.Aggregates.spearmanRhoCached(
        Tables.lineitem(s, d)
          .filter(col("l_quantity").isNotNull &&
            col("l_extendedprice").isNotNull)
          .select(col("l_quantity").cast("bigint").as("x"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y")),
        "x", "y").df),

    // Mann-Whitney U (rank-sum) on the same purchase-vs-view spend:
    // the nonparametric complement of a40 — ranks from the bounded
    // distinct-cents histogram via bucketedPrefixSums (no global
    // window), doubled-rank integer arithmetic, tie-corrected z.
    "a42_mann_whitney" -> ((s, d) =>
      graft.ops.Aggregates.mannWhitneyU(
        Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 100).cast("bigint").as("cents")),
        "event_type", "cents", groupA = "purchase", groupB = "view")),

    // Theil-Sen robust regression of price megacents on quantity:
    // weighted lower-median of distinct-cell pair slopes (domain²
    // pair space, the a41 discipline), intercept = weighted lower
    // median of 9dp residuals — the trend fit outliers cannot drag,
    // vs a38's OLS that moves with every spike.
    "a46_theil_sen" -> ((s, d) =>
      graft.ops.Aggregates.theilSen(
        Tables.lineitem(s, d)
          .filter(col("l_quantity").isNotNull &&
            col("l_extendedprice").isNotNull)
          .select(col("l_quantity").cast("bigint").as("x"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)" +
              " div 1000000").as("y")),
        "x", "y").df),

    // Half-space-tree anomaly mass over (quantity, discount cents,
    // price cents): 3 rotation trees × depth 7, midpoint bisection in
    // PURE INTEGER arithmetic (no float anywhere), leaf-mass tables
    // bounded by 2^depth, lowest-mass top-20 frontier — the joint-
    // density screen the reference's per-feature thresholds
    // (FD/consumer.py:60-66) cannot express.
    "a47_hstree_mass" -> ((s, d) =>
      graft.ops.Anomaly.halfSpaceMass(
        Tables.lineitem(s, d).select(
          concat(col("l_orderkey").cast("string"), lit(":"),
            col("l_linenumber").cast("string")).as("id"),
          col("l_quantity").cast("bigint").as("x0"),
          round(col("l_discount") * 100).cast("bigint").as("x1"),
          round(col("l_extendedprice") * 100).cast("bigint").as("x2")),
        "id", Seq("x0", "x1", "x2"), depth = 7, topK = 20)),

    // Gini coefficient of spend concentration per event type — Lorenz
    // algebra on the distinct-cents histogram (bucketedPrefixSums, no
    // global window), rank-weighted sum exact in DECIMAL(38,0), one
    // final double chain. The 1%-carries-80% screen for both abuse
    // detection and corpus-diversity audits.
    "a48_gini" -> ((s, d) =>
      graft.ops.Aggregates.giniPerGroup(
        Tables.events(s, d).select(col("event_type").as("g"),
          round(col("value") * 100).cast("bigint").as("v")),
        "g", "v").orderBy(col("grp"))),

    // Kruskal-Wallis H across ALL event types' spend distributions:
    // the k-group one-shot screen replacing pairwise U tests — pooled
    // midranks from the distinct-cents histogram (bucketedPrefixSums,
    // no global window), doubled-rank DECIMAL sums per group,
    // tie-corrected H in one fixed-order double chain.
    "a44_kruskal_wallis" -> ((s, d) =>
      graft.ops.Aggregates.kruskalWallisH(
        Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 100).cast("bigint").as("cents")),
        "event_type", "cents").df),

    // Welch's unequal-variance t statistic: purchase vs view spend
    // cents, one conditional-moment pass, statistic + Satterthwaite
    // dof (p-value left to tail tables — no incomplete beta in the
    // oracle surface).
    "a40_welch_t" -> ((s, d) =>
      graft.ops.Aggregates.welchT(
        Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 100).cast("bigint").as("cents")),
        "event_type", "cents", groupA = "purchase", groupB = "view")),

    // Cramér's V over the full return-flag × line-status contingency
    // table — the general r×c association strength (a32's 2×2
    // chi-square generalized), integer cells + one fixed-order double
    // chain per observed cell, decimal-summed.
    "a39_cramers_v" -> ((s, d) =>
      graft.ops.Aggregates.cramersVCached(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          col("l_linestatus")),
        "l_returnflag", "l_linestatus").df),

    // Market-basket association rules: orders as baskets, brands as
    // items — Apriori frequent pairs with an integer support floor
    // (1% of kept baskets), confidence both ways, lift. Baskets over
    // 12 distinct brands are dropped by contract (oracle replays).
    "a37_assoc_rules" -> ((s, d) => {
      val baskets = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(Tables.part(s, d)
            .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
      graft.ops.Associations.rulesCached(baskets, "l_orderkey", "p_brand",
          minPctNum = 1L, minPctDen = 100L, maxBasket = 12)
        .df.orderBy(col("item_a"), col("item_b"))
    }),

    // Per-segment OLS trend fit: price cents regressed on quantity per
    // ship mode — closed-form slope/intercept/r²/residual variance on
    // the same exact moment sums as a34/a36, one grouped agg, fully
    // hash-checked.
    "a38_linreg" -> ((s, d) =>
      graft.ops.Anomaly.olsPerGroup(
        Tables.lineitem(s, d).select(col("l_linestatus").as("grp"),
          col("l_quantity").cast("bigint").as("x"),
          round(col("l_extendedprice") * 100).cast("bigint").as("y")),
        "grp", "x", "y")
        .orderBy(col("grp"))),

    // A/B significance screen: even/odd users as variants, purchase
    // as conversion — the 2x2 table with chi-square, one pass.
    "a32_ab_test" -> ((s, d) =>
      graft.ops.Aggregates.abTest(
        Tables.events(s, d).filter(col("user_id").isNotNull)
          .select((col("user_id") % 2).cast("int").as("variant"),
            (col("event_type") === "purchase").cast("int").as("conv")),
        "variant", "conv")),

    // Concentration of spend: the top 1% of events per type and the
    // exact share of total cents they carry — integer first-rank rule
    // with deterministic tie handling at the threshold.
    "a31_concentration" -> ((s, d) =>
      graft.ops.Aggregates.topShare(
        Tables.events(s, d).select(col("event_type"), col("value")),
        "value", "event_type", pctNum = 1, pctDen = 100)
        .orderBy(col("grp"))),

    // Benford's-law first-digit screen per event type (forensic
    // accounting): string-extracted first digits of integer cents, the
    // 9-constant log10 expected table, per-digit chi-square
    // contributions rounded 6dp.
    "a29_benford" -> ((s, d) =>
      graft.ops.Aggregates.benfordProfile(
        Tables.events(s, d), "value", "event_type")
        .orderBy(col("grp"), col("digit"))),

    // Luhn mod-10 card-number validation as a pure integer column
    // fold: synthetic 12-digit PANs from event ids, per-type validity
    // counts (~10% pass by construction).
    "f21_luhn" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("pan",
          lpad(((col("event_id") * 7919) % 1000000000000L).cast("string"),
            12, "0"))
        .withColumn("ok", graft.ops.Cleaning.luhnValid("pan"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_valid"),
          sum(when(col("ok"), col("event_id"))).cast("long")
            .as("valid_id_sum"))
        .orderBy(col("event_type"))),

    // F17: formatted string-ID synthesis.
    "f17_id_synthesis" -> ((s, d) =>
      Tables.customer(s, d)
        .withColumn("cust_id", concat(lit("CUST"), col("c_custkey")))
        .withColumn("email",
          concat(lit("user"), col("c_custkey"), lit("@example.com")))
        .select(col("c_custkey"), col("cust_id"), col("email"))
        .orderBy(col("c_custkey")).limit(50)),

    // A10: class distribution / imbalance ratio (scale_pos_weight input).
    "a10_class_ratio" -> ((s, d) =>
      Tables.lineitem(s, d)
        .withColumn("label", (col("l_returnflag") === "R").cast("int"))
        .agg(
          sum(when(col("label") === 0, 1L).otherwise(0L)).as("n_neg"),
          sum(when(col("label") === 1, 1L).otherwise(0L)).as("n_pos"),
          (sum(when(col("label") === 0, 1L).otherwise(0L)).cast("double") /
            sum(when(col("label") === 1, 1L).otherwise(0L))).as("imbalance_ratio"))),

    // A18: distinct-class counting per group.
    "a18_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    // Data-quality profile (beyond reference surface): one-pass column
    // stats a pipeline runs before training on a new corpus.
    "p12_profile" -> ((s, d) =>
      Tables.customer(s, d).agg(
        count(lit(1)).as("n"),
        sum(col("c_acctbal").isNull.cast("long")).as("n_null_bal"),
        countDistinct(col("c_mktsegment")).as("n_segments"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        sum(length(col("c_name")).cast("long")).as("sum_name_len"))),

    // Typed semi-structured extraction (beyond reference surface):
    // `from_json` with an explicit schema — the codegen'd columnar
    // path for JSON payloads, vs f14's regexp. Malformed records
    // (planted on every 7th user) parse to null, counted per group:
    // the ingest-quality signal a pipeline watches on a new feed.
    "p13_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("raw",
          when(col("user_id") % 7 === 0, lit("not json{"))
            .otherwise(col("props")))
        .withColumn("k", from_json(col("raw"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k").isNull.cast("long")).as("n_bad"),
          sum(col("k")).cast("long").as("sum_k"))
        .orderBy(col("event_type"))),

    // Sketches (beyond reference surface): HLL++ distinct + approximate
    // quantiles. Engine-specific internals → rows-only; tolerance vs
    // exact asserted in AggregatesSpec.
    "a20_sketches" -> ((s, d) =>
      graft.ops.Aggregates.sketchProfile(
        Tables.events(s, d), "user_id", "value")),

    // Hash-gated twins of a20's sketch surface: md5-driven HLL
    // registers + KMV frontier (a20b) and a count-min sketch (a20c),
    // every register / bucket / estimate replayed bit-exactly by the
    // DuckDB oracle — integer register sums, single-division doubles,
    // no transcendentals (see Aggregates.distinctSketchesPortable).
    "a20b_sketches_portable" -> ((s, d) =>
      graft.ops.Aggregates.distinctSketchesPortable(
        Tables.events(s, d), "user_id")),
    "a20c_cms_portable" -> ((s, d) =>
      graft.ops.Aggregates.cmsHeavyKeysPortable(
        Tables.events(s, d), "user_id")),

    // A19: substring-bucketed grouping with collected members (the
    // dashboard's chart-gallery topic grouping, FD/dashboard.py:286-299).
    "a19_chart_groups" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("topic",
          when(col("source").isin("src0", "src1", "src2", "src3", "src4"),
            "early")
            .when(col("source").isin("src5", "src6", "src7", "src8", "src9"),
              "mid")
            .otherwise("late"))
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("n"),
          concat_ws(",", sort_array(collect_set(col("source"))))
            .as("members"))
        .orderBy(col("topic")))
  )

  /** a47's oracle: the same rotation/uses literals as
    * [[graft.ops.Anomaly.halfSpaceMass]], integer cells via DuckDB's
    * truncating `//` (≡ Spark `div` on the nonnegative operands), one
    * mass CTE per tree, lowest-score frontier. MATERIALIZED where a
    * CTE is read more than once (DuckDB inlines per reference).
    */
  private def hstreeSql(depth: Int, topK: Int): String = {
    val p = 3
    def uses(t: Int, f: Int): Int =
      (0 until depth).count(d => (t + d) % p == f)
    def leafSql(t: Int): String =
      (0 until p).map(k => (t + k) % p)
        .foldLeft("CAST(0 AS BIGINT)") { (acc, f) =>
          val m = uses(t, f)
          s"(($acc) * ${1L << m} + " +
            s"((x$f - mn$f) * ${1L << m}) // (mx$f - mn$f + 1))"
        }
    s"""WITH src AS MATERIALIZED (SELECT
             CAST(l_orderkey AS VARCHAR) || ':' ||
               CAST(l_linenumber AS VARCHAR) AS id,
             CAST(l_quantity AS BIGINT) AS x0,
             CAST(round(l_discount * 100) AS BIGINT) AS x1,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS x2
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
             AND l_extendedprice IS NOT NULL),
       mm AS (SELECT MIN(x0) AS mn0, MAX(x0) AS mx0,
                     MIN(x1) AS mn1, MAX(x1) AS mx1,
                     MIN(x2) AS mn2, MAX(x2) AS mx2 FROM src),
       lv AS MATERIALIZED (SELECT id,
               ${leafSql(0)} AS leaf0,
               ${leafSql(1)} AS leaf1,
               ${leafSql(2)} AS leaf2
             FROM src, mm),
       g0 AS (SELECT leaf0, COUNT(*) AS m0 FROM lv GROUP BY 1),
       g1 AS (SELECT leaf1, COUNT(*) AS m1 FROM lv GROUP BY 1),
       g2 AS (SELECT leaf2, COUNT(*) AS m2 FROM lv GROUP BY 1)
       SELECT lv.id AS id, CAST(g0.m0 AS BIGINT) AS m0,
              CAST(g1.m1 AS BIGINT) AS m1, CAST(g2.m2 AS BIGINT) AS m2,
              CAST(g0.m0 + g1.m1 + g2.m2 AS BIGINT) AS score
       FROM lv JOIN g0 USING (leaf0) JOIN g1 USING (leaf1)
               JOIN g2 USING (leaf2)
       ORDER BY score ASC, id ASC LIMIT $topK"""
  }

  def oracle: Map[String, String] = Map(
    "a47_hstree_mass" -> hstreeSql(7, 20),
    // replay giniPerGroup: cents histogram, per-group cumulative
    // counts, the v·(c·r + c(c+1)/2) rank-weighted sum in HUGEINT,
    // the identical final double chain
    "a48_gini" ->
      """WITH e AS (SELECT event_type AS g,
                      CAST(round(value * 100) AS BIGINT) AS v
                    FROM events
                    WHERE event_type IS NOT NULL AND value IS NOT NULL),
         h AS (SELECT g, v, COUNT(*) AS c FROM e GROUP BY g, v),
         cu AS (SELECT g, v, c,
                  SUM(c) OVER (PARTITION BY g ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
                FROM h),
         t AS (SELECT g, SUM(c) AS n,
                 SUM(CAST(v AS HUGEINT) * c) AS s,
                 SUM(CAST(v AS HUGEINT) *
                     (CAST(c AS HUGEINT) * (cum - c)
                      + (c * (c + 1)) // 2)) AS tt,
                 MIN(v) AS mnv
               FROM cu GROUP BY g)
         SELECT g AS grp, CAST(n AS BIGINT) AS n,
                CAST(s AS BIGINT) AS total,
                CASE WHEN mnv < 0 THEN NULL
                     WHEN s > 0 THEN
                       round(2.0 * CAST(tt AS DOUBLE) /
                         (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) -
                         (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 7)
                END AS gini
         FROM t ORDER BY grp""",
    "a20b_sketches_portable" ->
      """WITH r AS (SELECT md5('hll:' || CAST(user_id AS VARCHAR)) AS h
                    FROM events WHERE user_id IS NOT NULL),
         hx AS (SELECT (instr('0123456789abcdef', substr(h,1,1)) - 1) AS reg,
                  list_aggregate(list_transform(range(12),
                    i -> (instr('0123456789abcdef', substr(h,(i+2)::INT,1))
                          - 1)::BIGINT << (4*(11-i))::INT), 'sum') AS v
                FROM r),
         rk AS (SELECT reg,
                  CASE WHEN v = 0 THEN 49 ELSE 49 - length(bin(v)) END AS rk
                FROM hx),
         regs AS (SELECT reg, MAX(rk) AS r FROM rk GROUP BY reg),
         hll AS (SELECT COUNT(*) AS nonzero,
                   SUM(1::BIGINT << (50 - r)::INT) AS sp FROM regs),
         h2 AS (SELECT nonzero AS hll_nonzero,
                  sp + (16 - nonzero) * (1::BIGINT << 50) AS hll_s FROM hll),
         kh AS (SELECT DISTINCT md5('kmv:' || CAST(user_id AS VARCHAR)) AS kh
                FROM events WHERE user_id IS NOT NULL),
         fr AS (SELECT kh FROM kh ORDER BY kh LIMIT 64),
         kmv AS (SELECT COUNT(*) AS kmv_n, MAX(kh) AS kmv_kth FROM fr),
         ex AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events
                WHERE user_id IS NOT NULL)
         SELECT n_exact, hll_nonzero, CAST(hll_s AS BIGINT) AS hll_s,
                CAST(0.673 AS DOUBLE) * CAST(256 AS DOUBLE) *
                  CAST(1125899906842624 AS DOUBLE) / CAST(hll_s AS DOUBLE)
                  AS hll_raw_est,
                kmv_n,
                CASE WHEN kmv_n < 64 THEN CAST(kmv_n AS DOUBLE)
                     ELSE CAST(63 AS DOUBLE) /
                       (CAST(list_aggregate(list_transform(range(12),
                          i -> (instr('0123456789abcdef',
                                      substr(kmv_kth,(i+1)::INT,1))
                                - 1)::BIGINT << (4*(11-i))::INT), 'sum')
                          AS DOUBLE) / CAST(281474976710656 AS DOUBLE))
                  END AS kmv_est
         FROM ex, h2, kmv""",
    "a20c_cms_portable" ->
      """WITH rws AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
                      WHERE user_id IS NOT NULL),
         cells AS (SELECT hrow,
                     (instr('0123456789abcdef', substr(h,1,1))-1)*16 +
                     (instr('0123456789abcdef', substr(h,2,1))-1) AS bucket,
                     COUNT(*) AS c
                   FROM (SELECT hrow,
                           md5(CAST(hrow AS VARCHAR) || ':' || k) AS h
                         FROM rws, (SELECT unnest(range(0,4)) AS hrow))
                   GROUP BY 1,2),
         top AS (SELECT k AS key, COUNT(*) AS n_exact FROM rws GROUP BY k
                 ORDER BY n_exact DESC, key ASC LIMIT 5),
         probes AS (SELECT key, n_exact, hrow,
                      (instr('0123456789abcdef', substr(h,1,1))-1)*16 +
                      (instr('0123456789abcdef', substr(h,2,1))-1) AS bucket
                    FROM (SELECT key, n_exact, hrow,
                            md5(CAST(hrow AS VARCHAR) || ':' || key) AS h
                          FROM top, (SELECT unnest(range(0,4)) AS hrow)))
         SELECT key, n_exact, MIN(c) AS n_cms
         FROM probes JOIN cells USING (hrow, bucket)
         GROUP BY key, n_exact
         ORDER BY n_exact DESC, key ASC""",
    "u03_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents
                    WHERE doc_id % 10 <> 3),
         n AS (SELECT doc_id,
                 CASE WHEN doc_id % 6 = 0 THEN text || ' updated'
                      ELSE text END AS text
               FROM documents WHERE doc_id % 10 <> 7),
         j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                 CASE WHEN o.doc_id IS NULL THEN 'added'
                      WHEN n.doc_id IS NULL THEN 'removed'
                      WHEN o.text = n.text THEN 'unchanged'
                      ELSE 'changed' END AS status
               FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         SELECT status, COUNT(*) AS n,
                CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         FROM j GROUP BY status ORDER BY status""",
    "u01_upsert_compact" ->
      """WITH snap AS (
           SELECT c_custkey, c_acctbal, 0 AS version, FALSE AS deleted
           FROM customer),
         chg AS (
           SELECT c_custkey, c_acctbal + 1000.0 AS c_acctbal, 1 AS version,
                  c_custkey % 10 = 0 AS deleted
           FROM customer WHERE c_custkey % 3 = 0),
         u AS (SELECT * FROM snap UNION ALL SELECT * FROM chg),
         r AS (
           SELECT *, row_number()
             OVER (PARTITION BY c_custkey ORDER BY version DESC) AS rn
           FROM u)
         SELECT c_custkey, c_acctbal, CAST(version AS BIGINT) AS version
         FROM r WHERE rn = 1 AND NOT deleted AND c_custkey <= 200
         ORDER BY c_custkey""",
    "u04_incremental_agg" ->
      """WITH src AS (SELECT o_custkey % 1000 AS k,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                      FROM orders WHERE o_totalprice IS NOT NULL)
         SELECT k, COUNT(*) AS n,
                CAST(SUM(cents) AS BIGINT) AS sum_cents,
                MIN(cents) AS min_cents, MAX(cents) AS max_cents,
                round(CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE), 2) AS avg_cents
         FROM src GROUP BY k ORDER BY k""",
    "u02_scd2_intervals" ->
      s"""WITH log AS (
            SELECT l_orderkey, l_linenumber, MAX(l_quantity) AS qty
            FROM lineitem GROUP BY l_orderkey, l_linenumber),
          s AS (
            SELECT l_orderkey, l_linenumber AS valid_from,
                   LEAD(l_linenumber) OVER (PARTITION BY l_orderkey
                                            ORDER BY l_linenumber)
                     AS valid_to,
                   qty
            FROM log)
          SELECT COUNT(*) AS n_rows,
                 CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_current,
                 CAST(SUM(valid_to - valid_from) AS BIGINT) AS span_sum,
                 ${sqlSum("CASE WHEN valid_to IS NULL THEN qty END")}
                   AS current_qty
          FROM s""",
    "p01_drop_project" ->
      """SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment
         FROM customer ORDER BY c_custkey LIMIT 50""",
    "p03_inject_missing" ->
      """SELECT c_custkey, c_acctbal, 0 AS bonus_points
         FROM customer ORDER BY c_custkey LIMIT 50""",
    "p04_dedup" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "p05_fillna" ->
      s"""SELECT l_returnflag, COUNT(*) AS n,
           ${sqlSum("COALESCE(NULLIF(l_discount, 0.0), 0)")} AS sum_disc
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "p06_dropna" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlSum("v")} AS sum_v
          FROM (SELECT event_type,
                       CASE WHEN user_id % 7 = 0 THEN NULL ELSE value END AS v
                FROM events)
          WHERE v IS NOT NULL GROUP BY event_type ORDER BY event_type""",
    "p07_filter" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
         WHERE o_orderstatus = 'F'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "p08_blocks" ->
      """SELECT lang, COUNT(*) AS n FROM documents
         WHERE LENGTH(TRIM(text)) > 0 AND text LIKE '%table%'
         GROUP BY lang ORDER BY lang""",
    "f02_parse_roundtrip" ->
      """SELECT event_id,
           CAST(epoch(strptime(strftime(ts, '%Y-%m-%d') || ' ' ||
                               strftime(ts, '%H:%M:%S'),
                               '%Y-%m-%d %H:%M:%S')) AS BIGINT) AS epoch_s
         FROM events WHERE user_id < 20 ORDER BY event_id LIMIT 200""",
    "f10_label_roundtrip" ->
      """SELECT l_returnflag,
           CAST(SUM(CASE WHEN UPPER(CASE WHEN l_quantity > 25 THEN 'FRAUD'
                                         ELSE 'VALID' END) = 'FRAUD'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_fraud,
           CAST(SUM(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_above
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "f12_currency_roundtrip" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
           ${sqlSum("CAST(REPLACE(printf('$$%.2f', ROUND(o_totalprice, 2)), '$$', '') AS DOUBLE)")} AS sum_parsed
          FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "f14_kv_extract" ->
      """SELECT REPLACE(LOWER(TRIM(event_type)), ' ', '_') AS key,
           COUNT(*) AS n,
           CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY 1 ORDER BY key""",
    "a33_gini" ->
      """WITH r AS (SELECT event_type AS grp,
                      CAST(round(value * 100) AS BIGINT) AS c
                    FROM events WHERE value IS NOT NULL),
         h AS (SELECT grp, c, COUNT(*) AS cnt, c * COUNT(*) AS w
               FROM r GROUP BY grp, c),
         hc AS (SELECT grp, c, cnt, w,
                  SUM(cnt) OVER (PARTITION BY grp ORDER BY c) AS cum_cnt,
                  SUM(w) OVER (PARTITION BY grp ORDER BY c) AS cum_w
                FROM h),
         g AS (SELECT grp, SUM(cnt) AS n, SUM(w) AS total_cents,
                 SUM(cnt * (c * (cum_cnt - cnt) - (cum_w - w))) AS s_num
               FROM hc GROUP BY grp)
         SELECT grp, CAST(n AS BIGINT) AS n,
                CAST(total_cents AS BIGINT) AS total_cents,
                CAST(s_num AS BIGINT) AS s_num,
                round(CAST(s_num AS DOUBLE)
                      / (CAST(n AS DOUBLE)
                         * CAST(total_cents AS DOUBLE)), 6) AS gini
         FROM g ORDER BY grp""",
    "a35_mutual_info" ->
      """WITH m AS (
           SELECT 'qty' AS feature, CAST(l_quantity AS BIGINT) AS v,
                  l_returnflag AS y FROM lineitem
           UNION ALL
           SELECT 'disc', CAST(round(l_discount * 100) AS BIGINT),
                  l_returnflag FROM lineitem
           UNION ALL
           SELECT 'tax', CAST(round(l_tax * 100) AS BIGINT),
                  l_returnflag FROM lineitem
           UNION ALL
           SELECT 'line', CAST(l_linenumber AS BIGINT),
                  l_returnflag FROM lineitem),
         c AS (SELECT feature, v, y, COUNT(*) AS n_vy
               FROM m GROUP BY 1, 2, 3),
         fv AS (SELECT feature, v, SUM(n_vy) AS n_v
                FROM c GROUP BY 1, 2),
         yy AS (SELECT y, SUM(n_vy) AS n_y FROM c
                WHERE feature = 'qty' GROUP BY 1),
         nn AS (SELECT SUM(n_vy) AS n FROM c WHERE feature = 'qty'),
         t AS (SELECT c.feature, c.n_vy,
                 round(ln((CAST(nn.n AS DOUBLE) * CAST(c.n_vy AS DOUBLE))
                          / (CAST(fv.n_v AS DOUBLE)
                             * CAST(yy.n_y AS DOUBLE))), 9) AS lr
               FROM c
               JOIN fv ON c.feature = fv.feature
                      AND c.v IS NOT DISTINCT FROM fv.v
               JOIN yy ON c.y IS NOT DISTINCT FROM yy.y
               CROSS JOIN nn),
         mi AS (SELECT feature,
                  CAST(SUM(CAST(lr AS DECIMAL(11,9))
                           * CAST(n_vy AS DECIMAL(20,0))) AS DOUBLE)
                    / CAST((SELECT n FROM nn) AS DOUBLE) AS mi
                FROM t GROUP BY feature),
         hx AS (SELECT fv.feature, COUNT(*) AS n_values,
                  - (CAST(SUM(CAST(round(ln(CAST(fv.n_v AS DOUBLE)
                        / CAST(nn.n AS DOUBLE)), 9) AS DECIMAL(11,9))
                        * CAST(fv.n_v AS DECIMAL(20,0))) AS DOUBLE)
                     / CAST((SELECT n FROM nn) AS DOUBLE)) AS hx
                FROM fv CROSS JOIN nn GROUP BY fv.feature),
         hy AS (SELECT
                  - (CAST(SUM(CAST(round(ln(CAST(yy.n_y AS DOUBLE)
                        / CAST(nn.n AS DOUBLE)), 9) AS DECIMAL(11,9))
                        * CAST(yy.n_y AS DECIMAL(20,0))) AS DOUBLE)
                     / CAST((SELECT n FROM nn) AS DOUBLE)) AS hy
                FROM yy CROSS JOIN nn)
         SELECT mi.feature, hx.n_values, mi.mi, hx.hx, hy.hy,
                CASE WHEN hx.hx + hy.hy > 0
                  THEN 2.0 * mi.mi / (hx.hx + hy.hy) END AS su
         FROM mi JOIN hx ON mi.feature = hx.feature CROSS JOIN hy
         ORDER BY mi.feature""",

    "a36_pca2" ->
      """WITH src AS (SELECT l_returnflag AS grp,
                        CAST(l_quantity AS BIGINT) AS x,
                        CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                      FROM lineitem
                      WHERE l_quantity IS NOT NULL
                        AND l_extendedprice IS NOT NULL),
         st AS (SELECT grp, COUNT(*) AS n,
                  SUM(CAST(x AS HUGEINT)) AS sx,
                  SUM(CAST(y AS HUGEINT)) AS sy,
                  SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                  SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
                  SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
                FROM src GROUP BY grp),
         mo AS (SELECT grp, n, CAST(n AS DOUBLE) AS nd,
                  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
                  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
                  CAST(sxx AS DOUBLE) AS sxxd,
                  CAST(syy AS DOUBLE) AS syyd,
                  CAST(sxy AS DOUBLE) AS sxyd
                FROM st),
         cv AS (SELECT grp, n, mx, my,
                  sxxd / nd - mx * mx AS vx,
                  syyd / nd - my * my AS vy,
                  sxyd / nd - mx * my AS cxy
                FROM mo),
         eg AS (SELECT grp, n, mx, my, vx, vy, cxy,
                  sqrt((vx - vy) * (vx - vy) + 4.0 * cxy * cxy) AS disc
                FROM cv),
         lm AS (SELECT grp, n, mx, my, vx, vy, cxy,
                  (vx + vy + disc) / 2.0 AS l1,
                  (vx + vy - disc) / 2.0 AS l2
                FROM eg),
         rv AS (SELECT grp, n, mx, my, l1, l2,
                  CASE WHEN cxy = 0 THEN
                    CASE WHEN vx >= vy THEN 1.0 ELSE 0.0 END
                  ELSE cxy END AS rx,
                  CASE WHEN cxy = 0 THEN
                    CASE WHEN vx >= vy THEN 0.0 ELSE 1.0 END
                  ELSE l1 - vx END AS ry
                FROM lm),
         ev AS (SELECT grp, n, mx, my, l1, l2,
                  CASE WHEN rx < 0 OR (rx = 0 AND ry < 0)
                    THEN -1.0 ELSE 1.0 END * rx
                    / sqrt(rx * rx + ry * ry) AS e1x,
                  CASE WHEN rx < 0 OR (rx = 0 AND ry < 0)
                    THEN -1.0 ELSE 1.0 END * ry
                    / sqrt(rx * rx + ry * ry) AS e1y
                FROM rv),
         pj AS (SELECT s.grp, e.n, e.l1, e.l2, e.e1x, e.e1y,
                  CAST(round(
                    ((CAST(s.x AS DOUBLE) - e.mx) * e.e1x
                     + (CAST(s.y AS DOUBLE) - e.my) * e.e1y)
                    * ((CAST(s.x AS DOUBLE) - e.mx) * e.e1x
                       + (CAST(s.y AS DOUBLE) - e.my) * e.e1y), 0)
                    AS DECIMAL(38,0)) AS p1sq,
                  CAST(round(
                    (-(CAST(s.x AS DOUBLE) - e.mx) * e.e1y
                     + (CAST(s.y AS DOUBLE) - e.my) * e.e1x)
                    * (-(CAST(s.x AS DOUBLE) - e.mx) * e.e1y
                       + (CAST(s.y AS DOUBLE) - e.my) * e.e1x), 0)
                    AS DECIMAL(38,0)) AS p2sq
                FROM src s JOIN ev e ON s.grp = e.grp)
         SELECT grp, MIN(n) AS n, MIN(l1) AS l1, MIN(l2) AS l2,
                MIN(l1) / (MIN(l1) + MIN(l2)) AS evr,
                MIN(e1x) AS e1x, MIN(e1y) AS e1y,
                CAST(SUM(p1sq) AS DOUBLE) AS p1sq_sum,
                CAST(SUM(p2sq) AS DOUBLE) AS p2sq_sum
         FROM pj GROUP BY grp ORDER BY grp""",

    "a41_kendall_tau" ->
      """WITH src AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                        CAST(round(l_extendedprice * 100) AS BIGINT)
                          // 1000000 AS y
                      FROM lineitem
                      WHERE l_quantity IS NOT NULL
                        AND l_extendedprice IS NOT NULL),
         cells AS (SELECT x, y, COUNT(*) AS c FROM src GROUP BY x, y),
         pr AS (SELECT
                  SUM(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END)
                    AS cc,
                  SUM(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END)
                    AS dd
                FROM cells a JOIN cells b ON a.x < b.x),
         xm AS (SELECT SUM(nx) AS n, SUM(nx * (nx - 1)) AS tx2
                FROM (SELECT SUM(c) AS nx FROM cells GROUP BY x)),
         ym AS (SELECT SUM(ny * (ny - 1)) AS ty2
                FROM (SELECT SUM(c) AS ny FROM cells GROUP BY y))
         SELECT CAST(n AS BIGINT) AS n,
                CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs,
                CAST(COALESCE(cc, 0) AS BIGINT) AS concordant,
                CAST(COALESCE(dd, 0) AS BIGINT) AS discordant,
                CASE WHEN n * (n - 1) > tx2
                      AND n * (n - 1) > ty2 THEN
                  round(2.0 * CAST(COALESCE(cc, 0) - COALESCE(dd, 0)
                              AS DOUBLE)
                    / sqrt(CAST(n * (n - 1) - tx2 AS DOUBLE)
                           * CAST(n * (n - 1) - ty2 AS DOUBLE)), 7)
                END AS tau_b
         FROM pr, xm, ym""",
    "p17_fk_audit" ->
      """WITH a1 AS (SELECT 'lineitem.order' AS relation,
                       COUNT(*) AS n_rows,
                       COUNT(c.l_orderkey) AS n_nonnull,
                       CAST(SUM(CASE WHEN c.l_orderkey IS NOT NULL
                                      AND p.k IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_orphans
                     FROM lineitem c LEFT JOIN
                       (SELECT DISTINCT o_orderkey AS k FROM orders) p
                       ON c.l_orderkey = p.k),
         a2 AS (SELECT 'lineitem.part', COUNT(*),
                  COUNT(c.l_partkey),
                  CAST(SUM(CASE WHEN c.l_partkey IS NOT NULL
                                 AND p.k IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT)
                FROM lineitem c LEFT JOIN
                  (SELECT DISTINCT p_partkey AS k FROM part) p
                  ON c.l_partkey = p.k),
         a3 AS (SELECT 'order.customer', COUNT(*),
                  COUNT(c.o_custkey),
                  CAST(SUM(CASE WHEN c.o_custkey IS NOT NULL
                                 AND p.k IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT)
                FROM orders c LEFT JOIN
                  (SELECT DISTINCT c_custkey AS k FROM customer) p
                  ON c.o_custkey = p.k),
         a4 AS (SELECT 'event.user', COUNT(*),
                  COUNT(c.user_id),
                  CAST(SUM(CASE WHEN c.user_id IS NOT NULL
                                 AND p.k IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT)
                FROM events c LEFT JOIN
                  (SELECT DISTINCT c_custkey AS k FROM customer) p
                  ON c.user_id = p.k)
         SELECT * FROM a1 UNION ALL SELECT * FROM a2
         UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4
         ORDER BY relation""",
    "a43_spearman" ->
      """WITH src AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                        CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                      FROM lineitem
                      WHERE l_quantity IS NOT NULL
                        AND l_extendedprice IS NOT NULL),
         pr AS (SELECT x, y, COUNT(*) AS c FROM src GROUP BY 1, 2),
         hx AS (SELECT x, SUM(c) AS t FROM pr GROUP BY 1),
         rx AS (SELECT x,
                  2 * SUM(t) OVER (ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - t + 1 AS rx2
                FROM hx),
         hy AS (SELECT y, SUM(c) AS t FROM pr GROUP BY 1),
         ry AS (SELECT y,
                  2 * SUM(t) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - t + 1 AS ry2
                FROM hy),
         j AS (SELECT p.c, r1.rx2, r2.ry2
               FROM pr p JOIN rx r1 ON p.x = r1.x
                         JOIN ry r2 ON p.y = r2.y),
         a AS (SELECT SUM(c) AS n,
                 SUM(CAST(c AS HUGEINT) * CAST(rx2 AS HUGEINT)) AS sx,
                 SUM(CAST(c AS HUGEINT) * CAST(ry2 AS HUGEINT)) AS sy,
                 SUM(CAST(c AS HUGEINT) * CAST(rx2 AS HUGEINT)
                     * CAST(rx2 AS HUGEINT)) AS sxx,
                 SUM(CAST(c AS HUGEINT) * CAST(ry2 AS HUGEINT)
                     * CAST(ry2 AS HUGEINT)) AS syy,
                 SUM(CAST(c AS HUGEINT) * CAST(rx2 AS HUGEINT)
                     * CAST(ry2 AS HUGEINT)) AS sxy
               FROM j),
         m AS (SELECT n, CAST(n AS DOUBLE) AS nd,
                 CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
                 CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
                 CAST(sxx AS DOUBLE) AS sxxd,
                 CAST(syy AS DOUBLE) AS syyd,
                 CAST(sxy AS DOUBLE) AS sxyd
               FROM a),
         cv AS (SELECT n,
                  sxxd / nd - mx * mx AS vx,
                  syyd / nd - my * my AS vy,
                  sxyd / nd - mx * my AS cxy
                FROM m)
         SELECT CAST(n AS BIGINT) AS n,
                CASE WHEN vx > 0 AND vy > 0
                     THEN round(cxy / sqrt(vx * vy), 7)
                END AS rho
         FROM cv""",

    "a42_mann_whitney" ->
      """WITH e AS (SELECT event_type AS g,
                      CAST(round(value * 100) AS BIGINT) AS v
                    FROM events
                    WHERE value IS NOT NULL
                      AND (event_type = 'purchase'
                           OR event_type = 'view')),
         h AS (SELECT v, COUNT(*) AS t,
                 SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS ta
               FROM e GROUP BY v),
         r AS (SELECT v, t, ta,
                 SUM(t) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
               FROM h),
         r2 AS (SELECT *, hi - t + 1 AS lo FROM r),
         a AS (SELECT SUM(t) AS n, SUM(ta) AS na,
                 SUM(CAST(ta AS HUGEINT) * CAST(lo + hi AS HUGEINT))
                   AS r1x2,
                 SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
                     * CAST(t AS HUGEINT) - CAST(t AS HUGEINT)) AS ties
               FROM r2),
         b AS (SELECT na, n - na AS nb,
                 CAST(r1x2 - CAST(na AS HUGEINT)
                   * CAST(na + 1 AS HUGEINT) AS DOUBLE) / 2.0 AS u1d,
                 CASE WHEN n >= 2 THEN
                   CAST(na AS DOUBLE) * CAST(n - na AS DOUBLE) / 12.0 *
                     (CAST(n + 1 AS DOUBLE) -
                       CAST(ties AS DOUBLE) /
                         (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                 END AS sig2
               FROM a)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                CASE WHEN na >= 1 THEN round(u1d, 1) END AS u1,
                CASE WHEN na >= 1 AND nb >= 1 AND sig2 > 0 THEN
                  round((u1d - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                    / 2.0) / sqrt(sig2), 7)
                END AS z
         FROM b""",

    "a46_theil_sen" ->
      """WITH src AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                        CAST(round(l_extendedprice * 100) AS BIGINT)
                          // 1000000 AS y
                      FROM lineitem
                      WHERE l_quantity IS NOT NULL
                        AND l_extendedprice IS NOT NULL),
         cells AS (SELECT x, y, COUNT(*) AS c FROM src GROUP BY x, y),
         pr AS (SELECT CAST(b.y - a.y AS DOUBLE)
                         / CAST(b.x - a.x AS DOUBLE) AS s,
                       a.c * b.c AS w
                FROM cells a JOIN cells b ON a.x < b.x),
         sl AS (SELECT s, SUM(w) AS w FROM pr GROUP BY s),
         sc AS (SELECT s, w,
                  SUM(w) OVER (ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cw
                FROM sl),
         wt AS (SELECT SUM(w) AS wtot FROM sl),
         sm AS (SELECT MIN(s) AS slope, MIN(wtot) AS wtot
                FROM sc, wt WHERE cw >= (wtot + 1) // 2),
         rs AS (SELECT round(CAST(cl.y AS DOUBLE)
                             - sm.slope * CAST(cl.x AS DOUBLE), 9) AS r,
                       cl.c
                FROM cells cl, sm),
         rg AS (SELECT r, SUM(c) AS c FROM rs GROUP BY r),
         rc AS (SELECT r, c,
                  SUM(c) OVER (ORDER BY r
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cc
                FROM rg),
         nt AS (SELECT SUM(c) AS ntot FROM rg),
         im AS (SELECT MIN(r) AS intercept, MIN(ntot) AS ntot
                FROM rc, nt WHERE cc >= (ntot + 1) // 2)
         SELECT CAST(im.ntot AS BIGINT) AS n,
                CAST(sm.wtot AS BIGINT) AS w_pairs,
                sm.slope AS slope, im.intercept AS intercept
         FROM im, sm""",

    "a44_kruskal_wallis" ->
      """WITH e AS (SELECT event_type AS g,
                      CAST(round(value * 100) AS BIGINT) AS v
                    FROM events
                    WHERE value IS NOT NULL
                      AND event_type IS NOT NULL),
         hg AS (SELECT v, g, COUNT(*) AS c FROM e GROUP BY v, g),
         pv AS (SELECT v, SUM(c) AS t FROM hg GROUP BY v),
         r AS (SELECT v, t,
                 SUM(t) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
               FROM pv),
         r2 AS (SELECT v, (hi - t + 1) + hi AS r2 FROM r),
         pg AS (SELECT hg.g, SUM(hg.c) AS ni,
                  SUM(CAST(hg.c AS HUGEINT) * CAST(r2.r2 AS HUGEINT))
                    AS r2i
                FROM hg JOIN r2 ON hg.v = r2.v GROUP BY hg.g),
         z AS (SELECT g, ni, r2i,
                 CAST(round(CAST(r2i AS DOUBLE) * CAST(r2i AS DOUBLE)
                      / (4.0 * CAST(ni AS DOUBLE)), 7)
                      AS DECIMAL(38,7)) AS zz
               FROM pg),
         tt AS (SELECT SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
                           * CAST(t AS HUGEINT) - CAST(t AS HUGEINT))
                  AS ties
                FROM pv),
         ag AS (SELECT SUM(ni) AS n, COUNT(*) AS k,
                  CAST(SUM(zz) AS DOUBLE) AS s
                FROM z),
         fin AS (SELECT n, k, s, CAST(n AS DOUBLE) AS nd,
                   CAST(tt.ties AS DOUBLE) AS tiesd
                 FROM ag, tt)
         SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
                CASE WHEN k >= 2
                      AND 1.0 - tiesd / (nd * nd * nd - nd) > 0
                     THEN round((12.0 / (nd * (nd + 1.0)) * s
                                 - 3.0 * (nd + 1.0))
                            / (1.0 - tiesd / (nd * nd * nd - nd)), 7)
                END AS h
         FROM fin""",

    "a40_welch_t" ->
      """WITH e AS (SELECT event_type AS g,
                      CAST(round(value * 100) AS BIGINT) AS x
                    FROM events
                    WHERE value IS NOT NULL
                      AND (event_type = 'purchase'
                           OR event_type = 'view')),
         s AS (SELECT
                 SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS na,
                 SUM(CASE WHEN g = 'purchase' THEN CAST(x AS HUGEINT)
                          ELSE 0 END) AS sa,
                 SUM(CASE WHEN g = 'purchase'
                          THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT)
                          ELSE 0 END) AS qa,
                 SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS nb,
                 SUM(CASE WHEN g = 'view' THEN CAST(x AS HUGEINT)
                          ELSE 0 END) AS sb,
                 SUM(CASE WHEN g = 'view'
                          THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT)
                          ELSE 0 END) AS qb
               FROM e),
         m AS (SELECT na, nb, qa, qb,
                 CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
                 CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb
               FROM s),
         vv AS (SELECT na, nb, ma, mb,
                  (CAST(qa AS DOUBLE)
                   - CAST(na AS DOUBLE) * ma * ma)
                    / CAST(na - 1 AS DOUBLE) AS va,
                  (CAST(qb AS DOUBLE)
                   - CAST(nb AS DOUBLE) * mb * mb)
                    / CAST(nb - 1 AS DOUBLE) AS vb
                FROM m),
         w AS (SELECT na, nb, ma, mb,
                 va / CAST(na AS DOUBLE) AS wa,
                 vb / CAST(nb AS DOUBLE) AS wb
               FROM vv)
         SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                round(ma, 2) AS mean_a, round(mb, 2) AS mean_b,
                CASE WHEN na >= 2 AND nb >= 2 THEN
                  round((ma - mb) / sqrt(wa + wb), 7) END AS t,
                CASE WHEN na >= 2 AND nb >= 2 THEN
                  round((wa + wb) * (wa + wb)
                        / (wa * wa / CAST(na - 1 AS DOUBLE)
                           + wb * wb / CAST(nb - 1 AS DOUBLE)), 7)
                END AS dof
         FROM w""",
    "a39_cramers_v" ->
      """WITH cells AS (SELECT l_returnflag AS a, l_linestatus AS b,
                          COUNT(*) AS o
                        FROM lineitem
                        WHERE l_returnflag IS NOT NULL
                          AND l_linestatus IS NOT NULL
                        GROUP BY 1, 2),
         rt AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY a),
         ct AS (SELECT b, SUM(o) AS cb FROM cells GROUP BY b),
         sh AS (SELECT SUM(o) AS n, COUNT(DISTINCT a) AS r,
                       COUNT(DISTINCT b) AS c
                FROM cells),
         t AS (SELECT n, r, c,
                 CAST(round((CAST(o AS DOUBLE) - e)
                            * (CAST(o AS DOUBLE) - e) / e - e, 7)
                      AS DECIMAL(38,7)) AS tt
               FROM (SELECT o,
                       CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
                         / CAST(n AS DOUBLE) AS e,
                       n, r, c
                     FROM cells JOIN rt USING (a) JOIN ct USING (b),
                          sh))
         SELECT CAST(n AS BIGINT) AS n, r, c,
                round(CAST(SUM(tt) AS DOUBLE) + CAST(n AS DOUBLE), 6)
                  AS chi2,
                CASE WHEN LEAST(r - 1, c - 1) > 0 THEN
                  round(sqrt((CAST(SUM(tt) AS DOUBLE)
                              + CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE)
                       * CAST(LEAST(r - 1, c - 1) AS DOUBLE))), 7)
                END AS v
         FROM t GROUP BY n, r, c""",
    "a37_assoc_rules" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS bk, p_brand AS itm
                     FROM lineitem JOIN part ON l_partkey = p_partkey
                     WHERE l_orderkey IS NOT NULL
                       AND p_brand IS NOT NULL),
          sz AS (SELECT bk FROM it GROUP BY bk HAVING COUNT(*) <= 12),
          kept AS (SELECT it.bk, it.itm FROM it JOIN sz USING (bk)),
          nb AS (SELECT COUNT(DISTINCT bk) AS n FROM kept),
          supp AS (SELECT itm, COUNT(*) AS cnt FROM kept GROUP BY itm),
          freq AS (SELECT itm, cnt FROM supp, nb
                   WHERE cnt * 100 >= n * 1),
          fi AS (SELECT kept.bk, kept.itm
                 FROM kept JOIN freq USING (itm)),
          pr AS (SELECT a.itm AS item_a, b.itm AS item_b,
                   COUNT(*) AS n_pair
                 FROM fi a JOIN fi b ON a.bk = b.bk AND a.itm < b.itm
                 GROUP BY 1, 2),
          q AS (SELECT item_a, item_b, n_pair, n FROM pr, nb
                WHERE n_pair * 100 >= n * 1)
         SELECT item_a, item_b,
                CAST(sa.cnt AS BIGINT) AS n_a,
                CAST(sb.cnt AS BIGINT) AS n_b,
                CAST(n_pair AS BIGINT) AS n_pair,
                round(CAST(n_pair AS DOUBLE) / CAST(sa.cnt AS DOUBLE), 7)
                  AS conf_ab,
                round(CAST(n_pair AS DOUBLE) / CAST(sb.cnt AS DOUBLE), 7)
                  AS conf_ba,
                round((CAST(n_pair AS DOUBLE) * CAST(n AS DOUBLE))
                      / (CAST(sa.cnt AS DOUBLE) * CAST(sb.cnt AS DOUBLE)),
                      7) AS lift
         FROM q JOIN freq sa ON sa.itm = item_a
                JOIN freq sb ON sb.itm = item_b
         ORDER BY item_a, item_b""",
    "a38_linreg" ->
      """WITH src AS (SELECT l_linestatus AS grp,
                        CAST(l_quantity AS BIGINT) AS x,
                        CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                      FROM lineitem
                      WHERE l_quantity IS NOT NULL
                        AND l_extendedprice IS NOT NULL),
         st AS (SELECT grp, COUNT(*) AS n,
                  SUM(CAST(x AS HUGEINT)) AS sx,
                  SUM(CAST(y AS HUGEINT)) AS sy,
                  SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                  SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
                  SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
                FROM src GROUP BY grp),
         mo AS (SELECT grp, n, CAST(n AS DOUBLE) AS nd,
                  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
                  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
                  CAST(sxx AS DOUBLE) AS sxxd,
                  CAST(syy AS DOUBLE) AS syyd,
                  CAST(sxy AS DOUBLE) AS sxyd
                FROM st),
         cv AS (SELECT grp, n, nd, mx, my,
                  sxxd / nd - mx * mx AS vx,
                  syyd / nd - my * my AS vy,
                  sxyd / nd - mx * my AS cxy
                FROM mo),
         f AS (SELECT grp, n, mx, my, vx, vy, cxy,
                 CASE WHEN vx > 0 THEN cxy / vx END AS slope
               FROM cv)
         SELECT grp, n,
                round(slope, 7) AS slope,
                round(CASE WHEN vx > 0 THEN my - slope * mx END, 7)
                  AS intercept,
                round(CASE WHEN vx > 0 AND vy > 0
                           THEN cxy * cxy / (vx * vy) END, 7) AS r2,
                round(CASE WHEN vx > 0
                           THEN vy - cxy * cxy / vx END, 7) AS resvar
         FROM f ORDER BY grp""",
    "a34_mahalanobis" ->
      """WITH src AS (SELECT l_returnflag AS grp,
                        CAST(l_quantity AS BIGINT) AS x,
                        CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                      FROM lineitem
                      WHERE l_quantity IS NOT NULL
                        AND l_extendedprice IS NOT NULL),
         st AS (SELECT grp, COUNT(*) AS n,
                  SUM(CAST(x AS HUGEINT)) AS sx,
                  SUM(CAST(y AS HUGEINT)) AS sy,
                  SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                  SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
                  SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
                FROM src GROUP BY grp),
         mo AS (SELECT grp, n, CAST(n AS DOUBLE) AS nd,
                  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
                  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
                  CAST(sxx AS DOUBLE) AS sxxd,
                  CAST(syy AS DOUBLE) AS syyd,
                  CAST(sxy AS DOUBLE) AS sxyd
                FROM st),
         cv AS (SELECT grp, n, nd, mx, my,
                  sxxd / nd - mx * mx AS vx,
                  syyd / nd - my * my AS vy,
                  sxyd / nd - mx * my AS cxy
                FROM mo),
         cd AS (SELECT grp, n, mx, my, vx, vy, cxy,
                  vx * vy - cxy * cxy AS det
                FROM cv),
         sc AS (SELECT s.grp, c.n, c.mx, c.my, c.vx, c.vy, c.cxy,
                  CASE WHEN c.det > 0 THEN
                    round(((CAST(s.x AS DOUBLE) - c.mx)
                             * (CAST(s.x AS DOUBLE) - c.mx) * c.vy
                           - 2.0 * (CAST(s.x AS DOUBLE) - c.mx)
                             * (CAST(s.y AS DOUBLE) - c.my) * c.cxy
                           + (CAST(s.y AS DOUBLE) - c.my)
                             * (CAST(s.y AS DOUBLE) - c.my) * c.vx)
                          / c.det, 7)
                  END AS m2
                FROM src s JOIN cd c ON s.grp = c.grp)
         SELECT grp, MIN(n) AS n, MIN(mx) AS mx, MIN(my) AS my,
                MIN(vx) AS vx, MIN(vy) AS vy, MIN(cxy) AS cxy,
                CAST(SUM(CASE WHEN m2 > 13.8155 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_flagged,
                CAST(SUM(CAST(m2 AS DECIMAL(38,7))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) AS mean_m2,
                MAX(m2) AS max_m2
         FROM sc GROUP BY grp ORDER BY grp""",

    "a32_ab_test" ->
      """WITH s AS (SELECT CAST(user_id % 2 AS INT) AS variant,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                        AS conv
                    FROM events WHERE user_id IS NOT NULL),
         t AS (SELECT
                 SUM(CASE WHEN variant = 0 AND conv = 0 THEN 1 ELSE 0 END)
                   AS a0n,
                 SUM(CASE WHEN variant = 0 AND conv = 1 THEN 1 ELSE 0 END)
                   AS a0y,
                 SUM(CASE WHEN variant = 1 AND conv = 0 THEN 1 ELSE 0 END)
                   AS a1n,
                 SUM(CASE WHEN variant = 1 AND conv = 1 THEN 1 ELSE 0 END)
                   AS a1y
               FROM s)
         SELECT CAST(a0n AS BIGINT) AS a0n, CAST(a0y AS BIGINT) AS a0y,
                CAST(a1n AS BIGINT) AS a1n, CAST(a1y AS BIGINT) AS a1y,
                round(
                  (CAST(a0n AS DOUBLE) - CAST(a0n+a0y AS DOUBLE)
                     * CAST(a0n+a1n AS DOUBLE)
                     / CAST(a0n+a0y+a1n+a1y AS DOUBLE))
                  * (CAST(a0n AS DOUBLE) - CAST(a0n+a0y AS DOUBLE)
                     * CAST(a0n+a1n AS DOUBLE)
                     / CAST(a0n+a0y+a1n+a1y AS DOUBLE))
                  / (CAST(a0n+a0y AS DOUBLE) * CAST(a0n+a1n AS DOUBLE)
                     / CAST(a0n+a0y+a1n+a1y AS DOUBLE))
                + (CAST(a0y AS DOUBLE) - CAST(a0n+a0y AS DOUBLE)
                     * CAST(a0y+a1y AS DOUBLE)
                     / CAST(a0n+a0y+a1n+a1y AS DOUBLE))
                  * (CAST(a0y AS DOUBLE) - CAST(a0n+a0y AS DOUBLE)
                     * CAST(a0y+a1y AS DOUBLE)
                     / CAST(a0n+a0y+a1n+a1y AS DOUBLE))
                  / (CAST(a0n+a0y AS DOUBLE) * CAST(a0y+a1y AS DOUBLE)
                     / CAST(a0n+a0y+a1n+a1y AS DOUBLE))
                + (CAST(a1n AS DOUBLE) - CAST(a1n+a1y AS DOUBLE)
                     * CAST(a0n+a1n AS DOUBLE)
                     / CAST(a0n+a0y+a1n+a1y AS DOUBLE))
                  * (CAST(a1n AS DOUBLE) - CAST(a1n+a1y AS DOUBLE)
                     * CAST(a0n+a1n AS DOUBLE)
                     / CAST(a0n+a0y+a1n+a1y AS DOUBLE))
                  / (CAST(a1n+a1y AS DOUBLE) * CAST(a0n+a1n AS DOUBLE)
                     / CAST(a0n+a0y+a1n+a1y AS DOUBLE))
                + (CAST(a1y AS DOUBLE) - CAST(a1n+a1y AS DOUBLE)
                     * CAST(a0y+a1y AS DOUBLE)
                     / CAST(a0n+a0y+a1n+a1y AS DOUBLE))
                  * (CAST(a1y AS DOUBLE) - CAST(a1n+a1y AS DOUBLE)
                     * CAST(a0y+a1y AS DOUBLE)
                     / CAST(a0n+a0y+a1n+a1y AS DOUBLE))
                  / (CAST(a1n+a1y AS DOUBLE) * CAST(a0y+a1y AS DOUBLE)
                     / CAST(a0n+a0y+a1n+a1y AS DOUBLE)), 6) AS chi2
         FROM t""",
    "a31_concentration" ->
      """WITH r AS (SELECT event_type AS grp,
                      CAST(round(value * 100) AS BIGINT) AS c
                    FROM events WHERE value IS NOT NULL),
         h AS (SELECT grp, c, COUNT(*) AS cnt, c * COUNT(*) AS w
               FROM r GROUP BY grp, c),
         hc AS (SELECT grp, c, cnt, w,
                  SUM(cnt) OVER (PARTITION BY grp ORDER BY c DESC)
                    AS cum_cnt,
                  SUM(w) OVER (PARTITION BY grp ORDER BY c DESC)
                    AS cum_w
                FROM h),
         ng AS (SELECT grp, SUM(cnt) AS n, SUM(w) AS total_cents
                FROM h GROUP BY grp),
         wk AS (SELECT hc.*, ng.n, ng.total_cents,
                  (ng.n * 1 + 99) // 100 AS k
                FROM hc JOIN ng ON hc.grp = ng.grp),
         t AS (SELECT grp, n, total_cents, k,
                 max_by(struct_pack(cum_cnt := cum_cnt, cnt := cnt,
                                    cum_w := cum_w, w := w, c := c),
                        c) AS t
               FROM wk WHERE cum_cnt >= k
               GROUP BY grp, n, total_cents, k)
         SELECT grp, CAST(n AS BIGINT) AS n,
                CAST(total_cents AS BIGINT) AS total_cents,
                CAST(k AS BIGINT) AS k,
                CAST((t.cum_w - t.w)
                     + (k - (t.cum_cnt - t.cnt)) * t.c AS BIGINT)
                  AS top_cents
         FROM t ORDER BY grp""",
    "p15_privacy_audit" ->
      """WITH e AS (SELECT event_type,
                      (epoch_us(ts) // 3600000000) % 24 AS hour, user_id
                    FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         g AS (SELECT event_type, hour, COUNT(*) AS n,
                 COUNT(DISTINCT user_id) AS ndv
               FROM e GROUP BY 1, 2)
         SELECT event_type, hour, n, ndv,
                n < 70 AS k_violation, ndv < 65 AS l_violation
         FROM g WHERE n < 70 OR ndv < 65
         ORDER BY event_type, hour""",
    "p14_expectations" ->
      """WITH t AS (SELECT COUNT(*) AS n_rows,
           SUM(CASE WHEN NOT COALESCE(l_quantity BETWEEN 1 AND 50, FALSE)
                    THEN 1 ELSE 0 END) AS v_qty_range,
           SUM(CASE WHEN NOT COALESCE(l_extendedprice > 0, FALSE)
                    THEN 1 ELSE 0 END) AS v_price_positive,
           SUM(CASE WHEN NOT COALESCE(l_discount BETWEEN 0.0 AND 0.1,
                                      FALSE)
                    THEN 1 ELSE 0 END) AS v_disc_range,
           SUM(CASE WHEN NOT COALESCE(l_returnflag IN ('A', 'N', 'R'),
                                      FALSE)
                    THEN 1 ELSE 0 END) AS v_flag_domain,
           SUM(CASE WHEN NOT COALESCE(l_tax >= 0, FALSE)
                    THEN 1 ELSE 0 END) AS v_tax_nonneg,
           SUM(CASE WHEN NOT COALESCE(l_quantity < 30, FALSE)
                    THEN 1 ELSE 0 END) AS v_qty_lt_30
         FROM lineitem)
         SELECT r.rule, CAST(r.violations AS BIGINT) AS violations,
                t.n_rows, r.violations = 0 AS pass
         FROM t, (
           SELECT 'qty_range' AS rule, (SELECT v_qty_range FROM t)
                    AS violations
           UNION ALL SELECT 'price_positive',
                            (SELECT v_price_positive FROM t)
           UNION ALL SELECT 'disc_range', (SELECT v_disc_range FROM t)
           UNION ALL SELECT 'flag_domain', (SELECT v_flag_domain FROM t)
           UNION ALL SELECT 'tax_nonneg', (SELECT v_tax_nonneg FROM t)
           UNION ALL SELECT 'qty_lt_30', (SELECT v_qty_lt_30 FROM t)) r
         ORDER BY r.rule""",
    "a29_benford" ->
      """WITH c AS (SELECT event_type AS grp,
                      CAST(substr(CAST(CAST(round(value * 100) AS BIGINT)
                                       AS VARCHAR), 1, 1) AS INT) AS digit
                    FROM events WHERE value IS NOT NULL
                      AND CAST(round(value * 100) AS BIGINT) >= 1),
         o AS (SELECT grp, digit, COUNT(*) AS obs FROM c GROUP BY 1, 2),
         t AS (SELECT grp, SUM(obs) AS n FROM o GROUP BY grp)
         SELECT o.grp, o.digit, o.obs,
                round(CAST(t.n AS DOUBLE)
                      * (ln(1.0 + 1.0 / CAST(o.digit AS DOUBLE))
                         / ln(10.0)), 6) AS expected,
                round((CAST(o.obs AS DOUBLE)
                       - CAST(t.n AS DOUBLE)
                         * (ln(1.0 + 1.0 / CAST(o.digit AS DOUBLE))
                            / ln(10.0)))
                      * (CAST(o.obs AS DOUBLE)
                         - CAST(t.n AS DOUBLE)
                           * (ln(1.0 + 1.0 / CAST(o.digit AS DOUBLE))
                              / ln(10.0)))
                      / (CAST(t.n AS DOUBLE)
                         * (ln(1.0 + 1.0 / CAST(o.digit AS DOUBLE))
                            / ln(10.0))), 6) AS chi2_part
         FROM o JOIN t ON o.grp = t.grp
         ORDER BY o.grp, o.digit""",
    "f21_luhn" ->
      """WITH p AS (SELECT event_type, event_id,
                      lpad(CAST((event_id * 7919) % 1000000000000
                                AS VARCHAR), 12, '0') AS pan
                    FROM events),
         v AS (SELECT event_type, event_id,
                 list_sum(list_transform(range(1, len(pan) + 1), i ->
                   CASE WHEN (len(pan) - i) % 2 = 1 THEN
                     CASE WHEN CAST(substr(pan, CAST(i AS INT), 1)
                                    AS INT) * 2 > 9
                          THEN CAST(substr(pan, CAST(i AS INT), 1)
                                    AS INT) * 2 - 9
                          ELSE CAST(substr(pan, CAST(i AS INT), 1)
                                    AS INT) * 2 END
                   ELSE CAST(substr(pan, CAST(i AS INT), 1) AS INT)
                   END)) % 10 = 0 AS ok
               FROM p)
         SELECT event_type, COUNT(*) AS n,
                CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_valid,
                CAST(SUM(CASE WHEN ok THEN event_id END) AS BIGINT)
                  AS valid_id_sum
         FROM v GROUP BY event_type ORDER BY event_type""",
    "f20_feature_hash" ->
      """WITH src AS (SELECT c_mktsegment AS seg,
                        CAST(c_nationkey AS BIGINT) AS nat
                      FROM customer),
         toks AS (SELECT 'seg=' || seg AS token FROM src
                  WHERE seg IS NOT NULL
                  UNION ALL
                  SELECT 'nat=' || CAST(nat AS VARCHAR) AS token FROM src
                  WHERE nat IS NOT NULL),
         f AS (SELECT token, substr(md5(token), 1, 3) AS bucket,
                 CASE WHEN substr(md5(token), 4, 1) IN
                   ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1
                 END AS sign
               FROM toks)
         SELECT bucket, COUNT(*) AS n, COUNT(DISTINCT token) AS n_tok,
                CAST(SUM(sign) AS BIGINT) AS s
         FROM f GROUP BY bucket ORDER BY bucket""",
    "f19_target_encoding" ->
      """WITH r AS (SELECT event_type,
                      CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS y
                    FROM events),
         s AS (SELECT event_type, COUNT(*) AS n_c, SUM(y) AS sum_c
               FROM r GROUP BY event_type),
         g AS (SELECT COUNT(*) AS n, SUM(y) AS sm FROM r)
         SELECT DISTINCT r.event_type, r.y,
                (CAST(s.sum_c AS DOUBLE)
                 + 20.0 * (CAST(g.sm AS DOUBLE) / CAST(g.n AS DOUBLE)))
                  / (CAST(s.n_c AS DOUBLE) + 20.0) AS te,
                CASE WHEN s.n_c > 1
                     THEN CAST(s.sum_c - r.y AS DOUBLE)
                          / CAST(s.n_c - 1 AS DOUBLE) END AS loo
         FROM r JOIN s ON r.event_type IS NOT DISTINCT FROM s.event_type
         CROSS JOIN g
         ORDER BY r.event_type, y""",
    "f15_try_cast" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlSum("parsed")} AS sum_parsed
          FROM (SELECT event_type,
                       COALESCE(TRY_CAST(CASE WHEN user_id % 3 = 0 THEN 'junk'
                                              ELSE CAST(value AS VARCHAR)
                                         END AS DOUBLE), 0.0) AS parsed
                FROM events)
          GROUP BY event_type ORDER BY event_type""",
    "f17_id_synthesis" ->
      """SELECT c_custkey,
           'CUST' || CAST(c_custkey AS VARCHAR) AS cust_id,
           'user' || CAST(c_custkey AS VARCHAR) || '@example.com' AS email
         FROM customer ORDER BY c_custkey LIMIT 50""",
    "a10_class_ratio" ->
      """SELECT
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS DOUBLE) /
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS imbalance_ratio
         FROM lineitem""",
    "a18_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    "p12_profile" ->
      """SELECT COUNT(*) AS n,
           CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_bal,
           COUNT(DISTINCT c_mktsegment) AS n_segments,
           MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
           CAST(SUM(LENGTH(c_name)) AS BIGINT) AS sum_name_len
         FROM customer""",
    "p13_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bad,
           CAST(SUM(k) AS BIGINT) AS sum_k
         FROM (SELECT event_type,
                 CASE WHEN json_valid(raw)
                   THEN TRY_CAST(json_extract_string(raw, '$.k') AS BIGINT)
                 END AS k
               FROM (SELECT event_type,
                       CASE WHEN user_id % 7 = 0 THEN 'not json{'
                            ELSE props END AS raw
                     FROM events))
         GROUP BY event_type ORDER BY event_type""",
    "a19_chart_groups" ->
      """SELECT CASE
           WHEN source IN ('src0','src1','src2','src3','src4') THEN 'early'
           WHEN source IN ('src5','src6','src7','src8','src9') THEN 'mid'
           ELSE 'late' END AS topic,
           COUNT(*) AS n,
           array_to_string(list_sort(list(DISTINCT source)), ',') AS members
         FROM documents GROUP BY 1 ORDER BY topic"""
  )
}
