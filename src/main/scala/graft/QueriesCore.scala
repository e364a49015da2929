package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.api.FameSession

/** Driver-checkable queries for the FAME operator inventory (SURVEY §2.1):
  * each entry builds a deterministic time-series frame from the driver's
  * parquet tables, runs one operator through [[FameSession]], and has an
  * equivalent DuckDB SQL oracle in [[QueriesCore.oracles]].
  *
  * Determinism across engines: the base series are produced with
  * `DECIMAL(18,2)` sums (exact, order-independent) cast to double, so both
  * Spark and DuckDB start from bit-identical values; derived pointwise ops
  * are then IEEE-identical, and every double output is rounded to 8 dp —
  * FINER than the base data's intrinsic 8-decimal grid, so exact-grid
  * aggregates never sit on a rounding boundary (a 6-dp round put exact
  * half-values like 8.95152150 on the boundary, where last-ulp
  * summation-order noise flips the two engines differently).
  */
object QueriesCore {

  // NOTE for oracle authors: FAME numeric literals always compile to
  // DOUBLE (the parser emits Num(Double), ColumnCompiler lowers it as
  // lit(Double)), so oracle SQL must write value-position literals as
  // floating point (`1.0`, not `1`) or DuckDB infers INTEGER columns and
  // the driver's schema compare fails. This intentionally diverges from
  // the Polars reference, which preserves integer literals — FAME series
  // are numeric doubles throughout (SURVEY §1.2).
  private def r8(c: Column): Column = round(c, 8)

  /** Monthly (DATE, REV, CNT) from orders: REV = exact decimal revenue in
    * millions, CNT = order count. The shared base frame of most queries.
    */
  def monthly(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(trunc(col("o_orderdate").cast("date"), "month").as("DATE"))
      .agg(
        (sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double") / lit(1e6))
          .as("REV"),
        count(lit(1)).cast("double").as("CNT"))

  /** The same frame as a DuckDB CTE (oracle side of [[monthly]]). */
  val monthlySql: String =
    """WITH m AS (
      |  SELECT date_trunc('month', o_orderdate)::DATE AS date,
      |         (sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE)/1e6 AS rev,
      |         count(*)::DOUBLE AS cnt
      |  FROM orders GROUP BY 1
      |)""".stripMargin

  /** Quarterly (DATE, REV, REVL) from orders — upsample-source frame;
    * REVL duplicates REV so two convert techniques can coexist (the
    * rename-to-suffix contract is per source column).
    */
  def quarterly(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(trunc(col("o_orderdate").cast("date"), "quarter").as("DATE"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double") / lit(1e6))
        .as("REV"))
      .withColumn("REVL", col("REV"))
      .withColumn("REVC", col("REV"))

  val quarterlySql: String =
    """WITH q AS (
      |  SELECT date_trunc('quarter', o_orderdate)::DATE AS date,
      |         (sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE)/1e6 AS rev
      |  FROM orders GROUP BY 1
      |)""".stripMargin

  /** Monthly two-good frame from lineitem for the index kernels: quantities
    * A (returnflag 'A') and B (returnflag 'R'), prices PA/PB = revenue/qty.
    */
  def twoGoods(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("DATE", trunc(col("l_shipdate").cast("date"), "month"))
    def side(flag: String, q: String, p: String): DataFrame =
      li.where(col("l_returnflag") === flag)
        .groupBy(col("DATE"))
        .agg(
          (sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") / lit(1e3)).as(q),
          (sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double") /
            sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")).as(p))
    side("A", "A", "PA").join(side("R", "B", "PB"), Seq("DATE"), "inner")
  }

  val twoGoodsSql: String =
    """WITH g AS (
      |  SELECT date_trunc('month', l_shipdate)::DATE AS date, l_returnflag AS f,
      |         (sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE)/1e3 AS q,
      |         sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE
      |           / sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS p
      |  FROM lineitem WHERE l_returnflag IN ('A','R') GROUP BY 1, 2
      |), w AS (
      |  SELECT a.date AS date, a.q AS a, a.p AS pa, b.q AS b, b.p AS pb
      |  FROM (SELECT * FROM g WHERE f='A') a
      |  JOIN (SELECT * FROM g WHERE f='R') b USING (date)
      |)""".stripMargin

  // ------------------------------------------------------------------ queries

  private def runScript(script: String, in: DataFrame): DataFrame =
    FameSession.run(script, in).df

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // #1 assign_series + #2 simple expressions (SURVEY §2.1)
    "q01_assign_arith" -> ((s, dir) => {
      val out = runScript(
        """freq m
          |base = 100
          |v2 = rev * 2
          |v3 = v2 + cnt - base / 10""".stripMargin, monthly(s, dir))
      out.select(col("DATE").as("date"), col("REV").as("rev"),
        col("V2").as("v2"), col("V3").as("v3")).orderBy("date")
    }),

    // #9 conditional (when/otherwise, nested else-if, and/or/not)
    "q02_conditional" -> ((s, dir) => {
      val out = runScript(
        """flag = if rev gt 5 and not (cnt lt 10) then 1 else if rev lt 4 then 2 else 0
          |routed = if flag eq 1 then rev else cnt""".stripMargin, monthly(s, dir))
      out.select(col("DATE").as("date"), col("FLAG").as("flag"),
        col("ROUTED").as("routed")).orderBy("date")
    }),

    // #5/#6/#7 date-range masking incl. preserve_existing + inline set<...>
    "q03_datemask" -> ((s, dir) => {
      val out = runScript(
        """freq m
          |v = 1
          |date 1995-01-01 to 1995-12-31
          |v = 2
          |w = rev * 2
          |date *
          |set <date 1996-01-01 to 1996-06-01> u = 5""".stripMargin, monthly(s, dir))
      out.select(col("DATE").as("date"), col("V").as("v"),
        col("W").as("w"), col("U").as("u")).orderBy("date")
    }),

    // #8 point-in-time assignment (fused when-chain)
    "q04_point_in_time" -> ((s, dir) => {
      val out = runScript(
        """rev2 = rev
          |rev2[1995-06-01] = 42
          |rev2[1995-07-01] = 43""".stripMargin, monthly(s, dir))
      out.select(col("DATE").as("date"), col("REV2").as("rev2")).orderBy("date")
    }),

    // v[t+k] / v[t-k] lead-lag
    "q05_leadlag" -> ((s, dir) => {
      val out = runScript(
        """x = rev[t+1]
          |y = rev[t-1]
          |z = rev[t+1] - rev[t-2]""".stripMargin, monthly(s, dir))
      out.select(col("DATE").as("date"), col("X").as("x"),
        col("Y").as("y"), col("Z").as("z")).orderBy("date")
    }),

    // pct / diff (incl. k-period and offset pushdown)
    "q06_pct_diff" -> ((s, dir) => {
      val out = runScript(
        """p1 = pct(rev)
          |p3 = pct(rev, 3)
          |d1 = diff(rev)
          |pl = pct(rev[t+1])""".stripMargin, monthly(s, dir))
      out.select(col("DATE").as("date"), col("P1").as("p1"),
        col("P3").as("p3"), col("D1").as("d1"),
        col("PL").as("pl")).orderBy("date")
    }),

    // #10 lsum null-as-zero
    "q07_lsum" -> ((s, dir) => {
      val out = runScript("total = lsum(rev[t+1], cnt, 1)", monthly(s, dir))
      out.select(col("DATE").as("date"), col("TOTAL").as("total")).orderBy("date")
    }),

    // #15 firstvalue / lastvalue broadcast
    "q08_first_last" -> ((s, dir) => {
      val out = runScript(
        """f = firstvalue(rev)
          |l = lastvalue(rev)""".stripMargin, monthly(s, dir))
      out.select(col("DATE").as("date"), col("F").as("f"),
        col("L").as("l")).orderBy("date")
    }),

    // #3 scalar + ave + math funcs
    "q09_scalar_ave" -> ((s, dir) => {
      val out = runScript(
        """scalar mu = ave(rev)
          |dev = rev - mu
          |lg = log(rev)
          |rt = sqrt(cnt)
          |ab = abs(dev)
          |ex = exp(rev / mu)""".stripMargin, monthly(s, dir))
      out.select(col("DATE").as("date"), r8(col("DEV")).as("dev"),
        r8(col("LG")).as("lg"), col("RT").as("rt"),
        r8(col("AB")).as("ab"), r8(col("EX")).as("ex")).orderBy("date")
    }),

    // elementwise min/max + exists
    "q10_minmax_exists" -> ((s, dir) => {
      val out = runScript(
        """mn = min(rev, cnt / 4)
          |mx = max(rev, cnt / 4)
          |e = if exists(rev[t+1]) then 1 else 0""".stripMargin, monthly(s, dir))
      out.select(col("DATE").as("date"), col("MN").as("mn"),
        col("MX").as("mx"), col("E").as("e")).orderBy("date")
    }),

    // #12 convert: downsample m→q (sum + annualized rate) and m→a (average)
    "q11_convert_down" -> ((s, dir) => {
      val out = runScript(
        """freq m
          |rev_q = convert(rev, q, discrete, sum)
          |cnt_q = convert(cnt, q, discrete, annualized)
          |rev_a = convert(rev, a, discrete, average)""".stripMargin, monthly(s, dir))
      out.select(col("DATE").as("date"), r8(col("REV_QTRLY")).as("rev_qtrly"),
        r8(col("CNT_QTRLY")).as("cnt_qtrly"), r8(col("REV_ANN")).as("rev_ann"))
        .orderBy("date")
    }),

    // #12 convert: upsample q→m, constant (ffill) and linear techniques
    "q12_convert_up" -> ((s, dir) => {
      val out = runScript(
        """freq q
          |rev_m = convert(rev, m, constant, average)
          |rev_ml = convert(revl, m, linear, average)
          |rev_mc = convert(revc, m, cubic, average)""".stripMargin, quarterly(s, dir))
      out.select(col("DATE").as("date"), col("REV_MON").as("rev_mon"),
        col("REVL_MON").as("revl_mon"), col("REVC_MON").as("revc_mon"))
        .orderBy("date")
    }),

    // #11 shift_pct backward level reconstruction
    "q13_shift_pct" -> ((s, dir) => {
      val out = runScript(
        """rev2 = rev
          |date 1995-01-01 to 1996-06-01
          |rev2[t] = rev2[t+1]/(1+(pct(cnt[t+1])/100))""".stripMargin, monthly(s, dir))
      out.select(col("DATE").as("date"), r8(col("REV2")).as("rev2")).orderBy("date")
    }),

    // #13 chain-linked Fisher volume index
    "q14_chain" -> ((s, dir) => {
      val out = runScript("""set x = $chain("a - b", "1995")""", twoGoods(s, dir))
      out.select(col("DATE").as("date"), r8(col("X")).as("x")).orderBy("date")
    }),

    // #14 fishvol_rebase
    "q15_fishvol" -> ((s, dir) => {
      val out = runScript("x = fishvol_rebase({a,b},{pa,pb},1995)", twoGoods(s, dir))
      out.select(col("DATE").as("date"), r8(col("X")).as("x")).orderBy("date")
    }),

    // dateof (real implementation; reference stubs it)
    "q16_dateof" -> ((s, dir) => {
      val out = runScript(
        """date 1995-01-01 to 1996-12-01
          |v = rev
          |date *
          |dlast = dateof(v, *, CONTAIN, END)
          |dbefore = dateof(v, *, BEFORE)""".stripMargin, monthly(s, dir))
      out.select(col("DATE").as("date"), col("DLAST").as("dlast"),
        col("DBEFORE").as("dbefore")).orderBy("date")
    }),

    // dynamic lookup via scalar date + literal date lookup
    "q17_lookup" -> ((s, dir) => {
      val out = runScript(
        """scalar idx = make(date(m), "1995-06-01")
          |x = rev[idx]
          |y = rev["1995-03-01"]""".stripMargin, monthly(s, dir))
      out.select(col("DATE").as("date"), col("X").as("x"),
        col("Y").as("y")).orderBy("date")
    }),

    // #16 nlrx (HP smoother). Cell-exact: the pentadiagonal solve is all
    // exactly-rounded IEEE ops in a fixed order, so the oracle replays
    // Cholesky + both triangular solves bit-for-bit as recursive CTEs.
    "q18_nlrx" -> ((s, dir) => {
      val out = runScript(
        "sm = nlrx(1600, rev, rev, rev, rev, rev, rev, rev)", monthly(s, dir))
      out.select(col("DATE").as("date"), col("REV").as("rev"),
        col("SM").as("sm")).orderBy("date")
    }),

    // partitioned execution — the 100 TB path: one FAME program over many
    // entities at once; every window/groupBy partitions by the entity key
    "q19_partitioned" -> ((s, dir) => {
      val out = FameSession.run(
        """freq m
          |p = pct(rev)
          |rev_q = convert(rev, q, discrete, sum)""".stripMargin,
        monthlyByNation(s, dir), partitionKeys = Seq("NATION"))
      out.df.select(col("NATION").as("nation"), col("DATE").as("date"),
        col("REV").as("rev"), col("P").as("p"),
        r8(col("REV_QTRLY")).as("rev_qtrly"))
        .orderBy("nation", "date")
    }),

    // the q19 script over the nation frame replicated 100x (~2500
    // entities): the 100-TB scale proof that partitioned execution stays
    // per-entity parallel — PartitionedSpec asserts the plan has no
    // keyless windows. Output is a per-entity digest so the result stays
    // small at any replication factor; sums go through DECIMAL so the
    // digest is independent of partition order.
    "q38_partitioned_scale" -> ((s, dir) => {
      val reps = s.range(100).select(col("id").cast("string").as("REP"))
      val wide = monthlyByNation(s, dir).crossJoin(reps)
        .select(concat_ws("#", col("NATION"), col("REP")).as("NATION"),
          col("DATE"), col("REV"))
      val out = FameSession.run(
        """freq m
          |p = pct(rev)
          |rev_q = convert(rev, q, discrete, sum)""".stripMargin,
        wide, partitionKeys = Seq("NATION"))
      out.df.groupBy(col("NATION").as("nation"))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("P"), 8).cast(DecimalType(28, 8)))
            .cast("double").as("sum_p"),
          sum(round(col("REV_QTRLY"), 8).cast(DecimalType(28, 8)))
            .cast("double").as("sum_rev_q"))
        .orderBy("nation")
    }),

    // #16 nlrx at entity scale: one independent HP solve per nation, in
    // the task that holds the nation's rows (the PerKeySeries operator) —
    // no driver collect, no join back. Cell-exact like q18: the oracle
    // runs the same recursive-CTE replay partitioned by nation;
    // PartitionedSpec additionally pins the keyed path value-equal to
    // independent per-entity keyless solves, and the digest is
    // partition-order-free (round → DECIMAL sum).
    "q86_nlrx_partitioned" -> ((s, dir) => {
      val out = FameSession.run(
        "sm = nlrx(1600, rev, rev, rev, rev, rev, rev, rev)",
        monthlyByNation(s, dir), partitionKeys = Seq("NATION"))
      out.df.groupBy(col("NATION").as("nation"))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("SM"), 6).cast(DecimalType(28, 6)))
            .cast("double").as("sum_sm"))
        .orderBy("nation")
    }),

    // the q14 chain script over ~2500 replicated entities: proves the
    // keyed chain path stays entity-parallel, one PerKeySeries operator
    // over the entity-clustered frame with no |entities|x|years| index
    // table to join back or broadcast (PartitionedSpec asserts the plan
    // has no join and no hint). Replicas
    // are identical, so the oracle computes the q14 index once and
    // cross-joins the entity ids; DECIMAL sums keep the digest
    // partition-order independent.
    "q52_chain_scale" -> ((s, dir) => {
      val reps = s.range(2500).select(col("id").cast("string").as("ENT"))
      val wide = twoGoods(s, dir).crossJoin(reps)
      val out = FameSession.run("""set x = $chain("a - b", "1995")""", wide,
        partitionKeys = Seq("ENT"))
      out.df.groupBy(col("ENT").as("ent"))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("X"), 8).cast(DecimalType(28, 8)))
            .cast("double").as("sum_x"))
        .orderBy("ent")
    }),

    // convert as_freq override + start_by weekly anchors: the session
    // frequency is deliberately WRONG (annual) and as_freq=q must override
    // it — without the override the q→m upsample calendar would extend to
    // year-end and the row set would differ. REVL/REVC are Friday-anchored
    // weekly downsamples via the two equivalent spellings (w(fri) target
    // vs start_by=fri 6th arg).
    "q37_convert_asfreq" -> ((s, dir) => {
      val out = runScript(
        """freq a
          |revm = convert(rev, m, constant, average, q, off)
          |revw = convert(revl, w(fri), discrete, sum)
          |revw2 = convert(revc, w, discrete, sum, *, fri)""".stripMargin,
        quarterly(s, dir))
      out.select(col("DATE").as("date"), r8(col("REV_MON")).as("revm"),
        r8(col("REVL_WK")).as("revw"), r8(col("REVC_WK")).as("revw2"))
        .orderBy("date")
    }),

    // weekly + business-day convert (anchored weeks, Mon–Fri calendar)
    "q32_convert_weekly" -> ((s, dir) => {
      val out = runScript(
        """freq d
          |rev_w = convert(rev, w, discrete, sum)
          |rev_b = convert(cnt, b, constant, last)""".stripMargin,
        daily(s, dir))
      out.select(col("DATE").as("date"), r8(col("REV_WK")).as("rev_wk"),
        col("CNT_BUSD").as("cnt_busd")).orderBy("date")
    })
  )

  /** Per-nation monthly revenue series (entity-partitioned input). */
  def monthlyByNation(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val n = spark.read.parquet(s"$dir/nation.parquet")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("NATION"),
        trunc(col("o_orderdate").cast("date"), "month").as("DATE"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double") / lit(1e6))
        .as("REV"))
  }

  val monthlyByNationSql: String =
    """WITH m AS (
      |  SELECT n_name AS nation, date_trunc('month', o_orderdate)::DATE AS date,
      |         (sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE)/1e6 AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** Daily (DATE, REV, CNT) from lineitem ship dates. */
  def daily(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_shipdate").cast("date").as("DATE"))
      .agg(
        (sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double") / lit(1e6))
          .as("REV"),
        count(lit(1)).cast("double").as("CNT"))

  val dailySql: String =
    """WITH m AS (
      |  SELECT l_shipdate::DATE AS date,
      |         (sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE)/1e6 AS rev,
      |         count(*)::DOUBLE AS cnt
      |  FROM lineitem GROUP BY 1
      |)""".stripMargin

  // ------------------------------------------------------------------ oracles

  private val winD = "OVER (ORDER BY date)"

  /** DuckDB replay of the HP pentadiagonal solve (Nlrx.HpSmoother.solve)
    * as recursive CTEs over a source CTE `m` of (keys…, date, rev). Every
    * kernel op is an exactly-rounded IEEE double op (+ − × ÷ sqrt) in a
    * fixed order, so mirroring that order makes the replay BIT-exact, not
    * approximately equal: `band` builds the I + λDᵀD bands closed-form
    * (integer coefficient sums are fp-exact), `chol` runs the banded
    * Cholesky and the forward solve L z = y as one forward recursion
    * carrying (l1, l2, l2_prev, z, z_prev), and `back` runs Lᵀ x = z as a
    * reverse recursion carrying (x, x_next). `x - 0.0 == x` exactly for
    * every finite double, so the coalesce(…, 0.0) guards for the first
    * two positions do not perturb the arithmetic. `keys` partitions the
    * solve per entity (q86); empty solves the one global series (q18).
    */
  private def nlrxCtes(lambda: String, keys: Seq[String]): String = {
    val part = if (keys.isEmpty) "" else s"PARTITION BY ${keys.mkString(", ")} "
    def q(t: String) = keys.map(k => s"$t.$k, ").mkString
    val joinBC = keys.map(k => s"b.$k = c.$k AND ").mkString
    val joinCB = keys.map(k => s"c.$k = b.$k AND ").mkString
    s"""idx AS MATERIALIZED (
       |  SELECT ${keys.map(k => s"$k, ").mkString}date, rev,
       |         row_number() OVER (${part}ORDER BY date) - 1 AS i,
       |         count(*) OVER (${part.trim}) AS n
       |  FROM m
       |), band AS MATERIALIZED (
       |  SELECT ${keys.map(k => s"$k, ").mkString}i, n, date, rev,
       |    1.0 + $lambda * ((CASE WHEN i-2 BETWEEN 0 AND n-3 THEN 1.0 ELSE 0.0 END)
       |                  + (CASE WHEN i-1 BETWEEN 0 AND n-3 THEN 4.0 ELSE 0.0 END)
       |                  + (CASE WHEN i   BETWEEN 0 AND n-3 THEN 1.0 ELSE 0.0 END)) AS d0,
       |    CASE WHEN i+1 < n THEN
       |      $lambda * ((CASE WHEN i-1 BETWEEN 0 AND n-3 THEN -2.0 ELSE 0.0 END)
       |              + (CASE WHEN i   BETWEEN 0 AND n-3 THEN -2.0 ELSE 0.0 END)) END AS d1,
       |    CASE WHEN i+2 < n THEN $lambda * 1.0 END AS d2
       |  FROM idx
       |), chol AS MATERIALIZED (
       |  SELECT ${q("b")}b.i, b.n, b.date, b.rev,
       |         sqrt(b.d0) AS l0,
       |         b.d1 / sqrt(b.d0) AS l1,
       |         b.d2 / sqrt(b.d0) AS l2,
       |         CAST(NULL AS DOUBLE) AS l2_prev,
       |         b.rev / sqrt(b.d0) AS z,
       |         CAST(NULL AS DOUBLE) AS z_prev
       |  FROM band b WHERE b.i = 0
       |  UNION ALL
       |  SELECT ${q("b")}b.i, b.n, b.date, b.rev,
       |         sqrt((b.d0 - c.l1*c.l1) - coalesce(c.l2_prev*c.l2_prev, 0.0)) AS l0,
       |         CASE WHEN b.i+1 < b.n THEN
       |           (b.d1 - c.l1*c.l2)
       |             / sqrt((b.d0 - c.l1*c.l1) - coalesce(c.l2_prev*c.l2_prev, 0.0)) END AS l1,
       |         CASE WHEN b.i+2 < b.n THEN
       |           b.d2 / sqrt((b.d0 - c.l1*c.l1) - coalesce(c.l2_prev*c.l2_prev, 0.0)) END AS l2,
       |         c.l2 AS l2_prev,
       |         ((b.rev - c.l1*c.z) - coalesce(c.l2_prev*c.z_prev, 0.0))
       |           / sqrt((b.d0 - c.l1*c.l1) - coalesce(c.l2_prev*c.l2_prev, 0.0)) AS z,
       |         c.z AS z_prev
       |  FROM chol c JOIN band b ON ${joinBC}b.i = c.i + 1
       |), back AS (
       |  SELECT ${q("c")}c.i, c.date, c.rev, c.z / c.l0 AS x,
       |         CAST(NULL AS DOUBLE) AS x_next
       |  FROM chol c WHERE c.i = c.n - 1
       |  UNION ALL
       |  SELECT ${q("c")}c.i, c.date, c.rev,
       |         ((c.z - coalesce(c.l1*b.x, 0.0)) - coalesce(c.l2*b.x_next, 0.0)) / c.l0 AS x,
       |         b.x AS x_next
       |  FROM back b JOIN chol c ON ${joinCB}c.i = b.i - 1
       |)""".stripMargin
  }

  val oracles: Map[String, String] = Map(

    "q01_assign_arith" ->
      s"""$monthlySql
         |SELECT date, rev AS rev, rev*2 AS v2,
         |       rev*2 + cnt - 100/10 AS v3
         |FROM m ORDER BY date""".stripMargin,

    "q02_conditional" ->
      s"""$monthlySql
         |SELECT date,
         |  CASE WHEN rev > 5 AND NOT (cnt < 10) THEN 1.0
         |             WHEN rev < 4 THEN 2.0 ELSE 0.0 END AS flag,
         |  CASE WHEN (CASE WHEN rev > 5 AND NOT (cnt < 10) THEN 1
         |                        WHEN rev < 4 THEN 2 ELSE 0 END) = 1
         |             THEN rev ELSE cnt END AS routed
         |FROM m ORDER BY date""".stripMargin,

    "q03_datemask" ->
      s"""$monthlySql
         |SELECT date,
         |  CASE WHEN date BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
         |             THEN 2.0 ELSE 1.0 END AS v,
         |  CASE WHEN date BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
         |             THEN rev*2 END AS w,
         |  CASE WHEN date BETWEEN DATE '1996-01-01' AND DATE '1996-06-01'
         |             THEN 5.0 END AS u
         |FROM m ORDER BY date""".stripMargin,

    "q04_point_in_time" ->
      s"""$monthlySql
         |SELECT date,
         |  CASE WHEN date = DATE '1995-06-01' THEN 42
         |             WHEN date = DATE '1995-07-01' THEN 43
         |             ELSE rev END AS rev2
         |FROM m ORDER BY date""".stripMargin,

    "q05_leadlag" ->
      s"""$monthlySql
         |SELECT date,
         |  lead(rev, 1) $winD AS x,
         |  lag(rev, 1) $winD AS y,
         |  lead(rev, 1) $winD - lag(rev, 2) $winD AS z
         |FROM m ORDER BY date""".stripMargin,

    "q06_pct_diff" ->
      s"""$monthlySql
         |SELECT date,
         |  (rev - lag(rev,1) $winD) / lag(rev,1) $winD * 100 AS p1,
         |  (rev - lag(rev,3) $winD) / lag(rev,3) $winD * 100 AS p3,
         |  rev - lag(rev,1) $winD AS d1,
         |  (lead(rev,1) $winD - rev) / rev * 100 AS pl
         |FROM m ORDER BY date""".stripMargin,

    "q07_lsum" ->
      s"""$monthlySql
         |SELECT date,
         |  coalesce(lead(rev,1) $winD, 0) + coalesce(cnt, 0) + 1 AS total
         |FROM m ORDER BY date""".stripMargin,

    "q08_first_last" ->
      s"""$monthlySql
         |SELECT date,
         |  (SELECT rev FROM m WHERE rev IS NOT NULL ORDER BY date LIMIT 1) AS f,
         |  (SELECT rev FROM m WHERE rev IS NOT NULL ORDER BY date DESC LIMIT 1) AS l
         |FROM m ORDER BY date""".stripMargin,

    "q09_scalar_ave" ->
      s"""$monthlySql
         |SELECT date,
         |  round(rev - (SELECT avg(rev) FROM m), 8) AS dev,
         |  round(ln(rev), 8) AS lg,
         |  sqrt(cnt) AS rt,
         |  round(abs(rev - (SELECT avg(rev) FROM m)), 8) AS ab,
         |  round(exp(rev / (SELECT avg(rev) FROM m)), 8) AS ex
         |FROM m ORDER BY date""".stripMargin,

    "q10_minmax_exists" ->
      s"""$monthlySql
         |SELECT date,
         |  least(rev, cnt/4) AS mn,
         |  greatest(rev, cnt/4) AS mx,
         |  CASE WHEN lead(rev,1) $winD IS NOT NULL THEN 1.0 ELSE 0.0 END AS e
         |FROM m ORDER BY date""".stripMargin,

    "q11_convert_down" ->
      s"""$monthlySql, qq AS (
         |  SELECT date_trunc('quarter', date)::DATE AS qd, sum(rev) AS rq,
         |         sum(cnt) / 12 * 4 AS cq
         |  FROM m GROUP BY 1
         |), aa AS (
         |  SELECT date_trunc('year', date)::DATE AS ad, avg(rev) AS ra
         |  FROM m GROUP BY 1
         |)
         |SELECT m.date AS date, round(qq.rq, 8) AS rev_qtrly,
         |       round(qq.cq, 8) AS cnt_qtrly, round(aa.ra, 8) AS rev_ann
         |FROM m LEFT JOIN qq ON m.date = qq.qd LEFT JOIN aa ON m.date = aa.ad
         |ORDER BY date""".stripMargin,

    "q12_convert_up" ->
      s"""$quarterlySql, cal AS (
         |  SELECT unnest(generate_series(
         |    (SELECT min(date) FROM q),
         |    (SELECT (date_trunc('quarter', max(date)) + INTERVAL 3 MONTH - INTERVAL 1 DAY)::DATE FROM q),
         |    INTERVAL 1 MONTH))::DATE AS date
         |), j AS (
         |  SELECT cal.date AS date, q.rev AS rev FROM cal LEFT JOIN q USING (date)
         |), f AS (
         |  SELECT date, rev,
         |    last_value(rev IGNORE NULLS) OVER
         |      (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    max(CASE WHEN rev IS NOT NULL THEN date END) OVER
         |      (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         |    first_value(rev IGNORE NULLS) OVER
         |      (ORDER BY date ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    min(CASE WHEN rev IS NOT NULL THEN date END) OVER
         |      (ORDER BY date ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
         |  FROM j
         |)
         |, q2 AS (
         |  SELECT date, rev,
         |    coalesce(
         |      (lead(rev) OVER w - lag(rev) OVER w)
         |        / date_diff('day', lag(date) OVER w, lead(date) OVER w)::DOUBLE,
         |      (lead(rev) OVER w - rev)
         |        / date_diff('day', date, lead(date) OVER w)::DOUBLE,
         |      (rev - lag(rev) OVER w)
         |        / date_diff('day', lag(date) OVER w, date)::DOUBLE) AS m
         |  FROM q WINDOW w AS (ORDER BY date)
         |), jc AS (
         |  SELECT cal.date AS date, q2.m AS m
         |  FROM cal LEFT JOIN q2 USING (date)
         |), fm AS (
         |  SELECT date,
         |    last_value(m IGNORE NULLS) OVER
         |      (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m0,
         |    first_value(m IGNORE NULLS) OVER
         |      (ORDER BY date ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS m1
         |  FROM jc
         |), tt AS (
         |  SELECT f.date AS date, pv, pd, nv, nd, m0, m1,
         |    date_diff('day', pd, f.date)::DOUBLE
         |      / date_diff('day', pd, nd)::DOUBLE AS t,
         |    date_diff('day', pd, nd)::DOUBLE AS h
         |  FROM f JOIN fm ON f.date = fm.date
         |)
         |SELECT date, pv AS rev_mon,
         |  CASE WHEN pd = nd THEN pv
         |       ELSE pv + (nv - pv) * t END AS revl_mon,
         |  CASE WHEN pd = nd THEN pv ELSE coalesce(
         |    (2.0 * ((t*t)*t) - 3.0 * (t*t) + 1.0) * pv
         |      + (((t*t)*t) - 2.0 * (t*t) + t) * h * m0
         |      + (-2.0 * ((t*t)*t) + 3.0 * (t*t)) * nv
         |      + (((t*t)*t) - (t*t)) * h * m1,
         |    pv + (nv - pv) * t) END AS revc_mon
         |FROM tt ORDER BY date""".stripMargin,

    "q13_shift_pct" ->
      s"""$monthlySql, b AS (
         |  SELECT date, rev, cnt,
         |    CASE WHEN date <= DATE '1996-06-01'
         |         THEN cnt / lag(cnt, 1) $winD END AS f
         |  FROM m
         |), sfx AS (
         |  SELECT date, rev,
         |    product(CASE WHEN f > 0 THEN f END) OVER
         |      (ORDER BY date ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS sprod,
         |    max(CASE WHEN date = DATE '1996-06-01' THEN rev END) OVER () AS anch
         |  FROM b
         |)
         |SELECT date,
         |  round(CASE WHEN date BETWEEN DATE '1995-01-01' AND DATE '1996-06-01'
         |             THEN anch / coalesce(sprod, 1.0)
         |             ELSE rev END, 8) AS rev2
         |FROM sfx ORDER BY date""".stripMargin,

    "q14_chain" ->
      s"""$twoGoodsSql, y AS (
         |  SELECT year(date) AS yr, avg(pa) AS pa, sum(a) AS qa,
         |         avg(pb) AS pb, sum(b) AS qb
         |  FROM w GROUP BY 1
         |), l AS (
         |  SELECT yr, pa, qa, pb, qb,
         |    lag(pa) OVER (ORDER BY yr) AS ppa, lag(qa) OVER (ORDER BY yr) AS pqa,
         |    lag(pb) OVER (ORDER BY yr) AS ppb, lag(qb) OVER (ORDER BY yr) AS pqb
         |  FROM y
         |), f AS (
         |  SELECT yr,
         |    coalesce(sqrt(CASE WHEN ((ppa*qa - ppb*qb) / (ppa*pqa - ppb*pqb))
         |                          * ((pa*qa - pb*qb) / (pa*pqa - pb*pqb)) > 0
         |                       THEN ((ppa*qa - ppb*qb) / (ppa*pqa - ppb*pqb))
         |                          * ((pa*qa - pb*qb) / (pa*pqa - pb*pqb)) END), 1.0)
         |      AS fisher
         |  FROM l
         |), c AS (
         |  SELECT yr, product(CASE WHEN fisher > 0 THEN fisher END)
         |    OVER (ORDER BY yr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw
         |  FROM f
         |), r AS (
         |  SELECT yr, raw / max(CASE WHEN yr = 1995 THEN raw END) OVER () * 100 AS idx
         |  FROM c
         |)
         |SELECT w.date AS date, round(r.idx, 8) AS x
         |FROM w JOIN r ON year(w.date) = r.yr ORDER BY date""".stripMargin,

    // replicas are identical per entity, so one q14 index digest
    // cross-joined with the entity ids (the q38 oracle pattern)
    "q52_chain_scale" ->
      s"""$twoGoodsSql, y AS (
         |  SELECT year(date) AS yr, avg(pa) AS pa, sum(a) AS qa,
         |         avg(pb) AS pb, sum(b) AS qb
         |  FROM w GROUP BY 1
         |), l AS (
         |  SELECT yr, pa, qa, pb, qb,
         |    lag(pa) OVER (ORDER BY yr) AS ppa, lag(qa) OVER (ORDER BY yr) AS pqa,
         |    lag(pb) OVER (ORDER BY yr) AS ppb, lag(qb) OVER (ORDER BY yr) AS pqb
         |  FROM y
         |), f AS (
         |  SELECT yr,
         |    coalesce(sqrt(CASE WHEN ((ppa*qa - ppb*qb) / (ppa*pqa - ppb*pqb))
         |                          * ((pa*qa - pb*qb) / (pa*pqa - pb*pqb)) > 0
         |                       THEN ((ppa*qa - ppb*qb) / (ppa*pqa - ppb*pqb))
         |                          * ((pa*qa - pb*qb) / (pa*pqa - pb*pqb)) END), 1.0)
         |      AS fisher
         |  FROM l
         |), c AS (
         |  SELECT yr, product(CASE WHEN fisher > 0 THEN fisher END)
         |    OVER (ORDER BY yr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw
         |  FROM f
         |), r AS (
         |  SELECT yr, raw / max(CASE WHEN yr = 1995 THEN raw END) OVER () * 100 AS idx
         |  FROM c
         |), perdate AS (
         |  SELECT w.date, round(r.idx, 8) AS x
         |  FROM w JOIN r ON year(w.date) = r.yr
         |), digest AS (
         |  SELECT count(*) AS n_rows,
         |         sum(x::DECIMAL(28,8))::DOUBLE AS sum_x
         |  FROM perdate
         |)
         |SELECT i::VARCHAR AS ent, digest.n_rows, digest.sum_x
         |FROM range(0, 2500) t(i), digest ORDER BY ent""".stripMargin,

    "q15_fishvol" ->
      s"""$twoGoodsSql, l AS (
         |  SELECT date,
         |    (lag(pa) $winD * a + lag(pb) $winD * b)
         |      / (lag(pa) $winD * lag(a) $winD + lag(pb) $winD * lag(b) $winD) AS lasp,
         |    (pa * a + pb * b) / (pa * lag(a) $winD + pb * lag(b) $winD) AS paas
         |  FROM w
         |), lk AS (
         |  SELECT date, coalesce(sqrt(CASE WHEN lasp * paas > 0
         |                                  THEN lasp * paas END), 1.0) AS link
         |  FROM l
         |), c AS (
         |  SELECT date, product(CASE WHEN link > 0 THEN link END)
         |    OVER (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw
         |  FROM lk
         |)
         |SELECT date,
         |  round(raw / avg(CASE WHEN year(date) = 1995 THEN raw END) OVER () * 100, 8) AS x
         |FROM c ORDER BY date""".stripMargin,

    "q16_dateof" ->
      s"""$monthlySql, v AS (
         |  SELECT date, CASE WHEN date BETWEEN DATE '1995-01-01' AND DATE '1996-12-01'
         |                    THEN rev END AS v
         |  FROM m
         |)
         |SELECT date,
         |  (SELECT max(date) FROM v WHERE v IS NOT NULL) AS dlast,
         |  max(CASE WHEN v IS NOT NULL THEN date END)
         |    OVER (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dbefore
         |FROM v ORDER BY date""".stripMargin,

    "q17_lookup" ->
      s"""$monthlySql
         |SELECT date,
         |  (SELECT rev FROM m WHERE date = DATE '1995-06-01') AS x,
         |  (SELECT rev FROM m WHERE date = DATE '1995-03-01') AS y
         |FROM m ORDER BY date""".stripMargin,
    // the HP solve replayed bit-exact (see nlrxCtes): rows-only no more
    "q18_nlrx" ->
      s"""${monthlySql.replaceFirst("WITH m AS", "WITH RECURSIVE m AS MATERIALIZED")}, ${nlrxCtes("1600.0", Nil)}
         |SELECT date, rev, x AS sm FROM back ORDER BY date""".stripMargin,

    "q86_nlrx_partitioned" ->
      s"""${monthlyByNationSql.replaceFirst("WITH m AS", "WITH RECURSIVE m AS MATERIALIZED")}, ${nlrxCtes("1600.0", Seq("nation"))}
         |SELECT nation, count(*)::BIGINT AS n_rows,
         |       sum(CAST(round(x, 6) AS DECIMAL(28,6)))::DOUBLE AS sum_sm
         |FROM back GROUP BY nation ORDER BY nation""".stripMargin,

    // oracle mirrors the engine's full-join-back domain: the convert bridge
    // can introduce quarter-start rows absent from the monthly frame, and
    // pct then windows over that merged calendar
    "q19_partitioned" ->
      s"""$monthlyByNationSql, qq AS (
         |  SELECT nation, date_trunc('quarter', date)::DATE AS qd, sum(rev) AS rq
         |  FROM m GROUP BY 1, 2
         |), j AS (
         |  SELECT coalesce(m.nation, qq.nation) AS nation,
         |         coalesce(m.date, qq.qd) AS date, m.rev AS rev, qq.rq AS rq
         |  FROM m FULL JOIN qq ON m.nation = qq.nation AND m.date = qq.qd
         |)
         |SELECT nation, date, rev,
         |  (rev - lag(rev) OVER w) / lag(rev) OVER w * 100 AS p,
         |  round(rq, 8) AS rev_qtrly
         |FROM j
         |WINDOW w AS (PARTITION BY nation ORDER BY date)
         |ORDER BY nation, date""".stripMargin,

    // replicas are identical per nation, so the oracle computes each
    // nation's digest once (exactly the q19 shape) and cross-joins the
    // replica ids
    "q38_partitioned_scale" ->
      s"""$monthlyByNationSql, qq AS (
         |  SELECT nation, date_trunc('quarter', date)::DATE AS qd, sum(rev) AS rq
         |  FROM m GROUP BY 1, 2
         |), j AS (
         |  SELECT coalesce(m.nation, qq.nation) AS nation,
         |         coalesce(m.date, qq.qd) AS date, m.rev AS rev, qq.rq AS rq
         |  FROM m FULL JOIN qq ON m.nation = qq.nation AND m.date = qq.qd
         |), pp AS (
         |  SELECT nation,
         |    (rev - lag(rev) OVER w) / lag(rev) OVER w * 100 AS p, rq
         |  FROM j
         |  WINDOW w AS (PARTITION BY nation ORDER BY date)
         |), dgt AS (
         |  SELECT nation, count(*) AS n_rows,
         |    sum(CAST(round(p, 8) AS DECIMAL(28,8)))::DOUBLE AS sum_p,
         |    sum(CAST(round(rq, 8) AS DECIMAL(28,8)))::DOUBLE AS sum_rev_q
         |  FROM pp GROUP BY nation
         |)
         |SELECT dgt.nation || '#' || r.range AS nation, n_rows, sum_p, sum_rev_q
         |FROM dgt CROSS JOIN range(100) r
         |ORDER BY nation""".stripMargin,

    "q32_convert_weekly" ->
      s"""$dailySql, wk AS (
         |  SELECT date_trunc('week', date)::DATE AS wd, sum(rev) AS rw
         |  FROM m GROUP BY 1
         |), cal AS (
         |  SELECT unnest(generate_series((SELECT min(date) FROM m),
         |                                (SELECT max(date) FROM m),
         |                                INTERVAL 1 DAY))::DATE AS date
         |), bus AS (
         |  -- fill domain = business grid ∪ EVERY source date: the
         |  -- engine's upsample full-joins the grid with the source, so
         |  -- off-grid (weekend) observations feed the carry-forward —
         |  -- a Monday missing from m takes Sunday's value, not Friday's
         |  SELECT cal.date, m.cnt,
         |         dayofweek(cal.date) NOT IN (0, 6) AS isb
         |  FROM cal LEFT JOIN m USING (date)
         |  WHERE dayofweek(cal.date) NOT IN (0, 6) OR m.cnt IS NOT NULL
         |), f AS (
         |  SELECT date, isb, last_value(cnt IGNORE NULLS) OVER
         |    (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
         |  FROM bus
         |), dom AS (
         |  -- the convert bridges extend the frame: the business-day
         |  -- convert adds every Mon-Fri in the span (and week-anchor
         |  -- Mondays are weekdays, so the weekly bridge adds nothing
         |  -- more). Dense daily data (sf0.01) makes this the same set as
         |  -- m; sparse data (sf0.001) does not.
         |  SELECT date FROM m UNION SELECT date FROM f WHERE isb
         |)
         |SELECT d.date AS date, round(wk.rw, 8) AS rev_wk,
         |       CASE WHEN f.isb THEN f.cb END AS cnt_busd
         |FROM dom d LEFT JOIN wk ON d.date = wk.wd LEFT JOIN f ON d.date = f.date
         |ORDER BY date""".stripMargin,

    // as_freq=q bounds the month calendar at quarter end (not year end);
    // q→w(fri) is an UPSAMPLE onto a Friday grid (first Friday ≥ min date,
    // step 7 days): quarterly observations sit BETWEEN grid points, so the
    // step fill runs over grid ∪ observation dates and keeps grid rows
    "q37_convert_asfreq" ->
      s"""$quarterlySql, cal AS (
         |  SELECT unnest(generate_series(
         |    (SELECT min(date) FROM q),
         |    (SELECT (date_trunc('quarter', max(date)) + INTERVAL 3 MONTH - INTERVAL 1 DAY)::DATE FROM q),
         |    INTERVAL 1 MONTH))::DATE AS date
         |), f AS (
         |  SELECT cal.date AS date,
         |    last_value(q.rev IGNORE NULLS) OVER
         |      (ORDER BY cal.date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revm
         |  FROM cal LEFT JOIN q USING (date)
         |), wcal AS (
         |  -- the weekly converts pass no as_freq, so they inherit the
         |  -- session frequency (annual): grid extends to YEAR end of max
         |  SELECT unnest(generate_series(
         |    (SELECT (date_trunc('week', min(date) + INTERVAL 2 DAY) + INTERVAL 4 DAY)::DATE FROM q),
         |    (SELECT (date_trunc('year', max(date)) + INTERVAL 1 YEAR - INTERVAL 1 DAY)::DATE FROM q),
         |    INTERVAL 7 DAY))::DATE AS date
         |), wf AS (
         |  SELECT date, incal,
         |    last_value(rev IGNORE NULLS) OVER
         |      (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revw
         |  FROM (
         |    SELECT coalesce(wcal.date, q.date) AS date,
         |           wcal.date IS NOT NULL AS incal, q.rev AS rev
         |    FROM wcal FULL JOIN q ON wcal.date = q.date
         |  )
         |), wk AS (
         |  SELECT date, revw FROM wf WHERE incal
         |), dates AS (
         |  SELECT date FROM cal UNION SELECT date FROM wk UNION SELECT date FROM q
         |)
         |SELECT d.date AS date, round(f.revm, 8) AS revm,
         |  round(wk.revw, 8) AS revw, round(wk.revw, 8) AS revw2
         |FROM dates d LEFT JOIN f USING (date) LEFT JOIN wk USING (date)
         |ORDER BY date""".stripMargin
  )
}
