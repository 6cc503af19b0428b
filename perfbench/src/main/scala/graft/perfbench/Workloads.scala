package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators._

/** Seeded TPC-H-shaped inputs: `orders` (the claims fact the pipeline
  * dirties and cleanses) and `lineitem` (the fact the gold views read),
  * written as parquet under `sfDir` in the layout [[Tables]] loads. The
  * same seed gives byte-identical tables. */
object Gen {
  /** 1997-01-01 .. 1998-08-02: the last 20 months of the TPC-H
    * order-date domain. It holds every date the engine's fixtures and
    * gold views select (corrections restate 1997-07+ orders; the views
    * read 1996+), and keeps the month-partitioned tables small in files. */
  val Start = "1997-01-01"
  val Days = 579
  val Months = 20

  private def h(seed: Long, salt: Int): Column =
    xxhash64(col("id"), lit(seed), lit(salt))

  private def pick(seed: Long, salt: Int, xs: String*): Column =
    element_at(array(xs.map(lit): _*),
      (pmod(h(seed, salt), lit(xs.size.toLong)) + 1).cast("int"))

  private def dayOf(seed: Long, salt: Int): Column =
    date_add(lit(Start).cast("date"),
      pmod(h(seed, salt), lit(Days.toLong)).cast("int"))

  private def money(seed: Long, salt: Int, lo: Long, hi: Long): Column =
    (pmod(h(seed, salt), lit((hi - lo) * 100)) + lo * 100).cast("double") /
      100.0

  def writeStarSchema(spark: SparkSession, sfDir: String, orders: Long,
      seed: Long): Unit = {
    spark.range(1, orders + 1).select(
        col("id").as("o_orderkey"),
        (pmod(h(seed, 1), lit(orders / 10)) + 1).as("o_custkey"),
        pick(seed, 2, "F", "O", "P").as("o_orderstatus"),
        money(seed, 3, 900, 500000).as("o_totalprice"),
        dayOf(seed, 4).cast("timestamp").as("o_orderdate"),
        pick(seed, 5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW").as("o_orderpriority"))
      .repartition(4).write.parquet(Tables.path(sfDir, "orders"))
    spark.range(0, orders * 4).select(
        (col("id") / 4 + 1).cast("long").as("l_orderkey"),
        (pmod(h(seed, 11), lit(orders / 5)) + 1).as("l_partkey"),
        (pmod(h(seed, 12), lit(orders / 150 + 1)) + 1).as("l_suppkey"),
        (col("id") % 4 + 1).cast("int").as("l_linenumber"),
        (pmod(h(seed, 13), lit(50L)) + 1).cast("double").as("l_quantity"),
        money(seed, 14, 900, 100000).as("l_extendedprice"),
        (pmod(h(seed, 15), lit(11L)).cast("double") / 100.0).as("l_discount"),
        (pmod(h(seed, 16), lit(9L)).cast("double") / 100.0).as("l_tax"),
        pick(seed, 17, "A", "N", "R").as("l_returnflag"),
        pick(seed, 18, "F", "O").as("l_linestatus"),
        dayOf(seed, 19).cast("timestamp").as("l_shipdate"))
      .repartition(4).write.parquet(Tables.path(sfDir, "lineitem"))
  }

  /** A seeded uniform draw in [0, 1) for decision `i` of a run. */
  def u(seed: Long, i: Int): Double =
    new scala.util.Random(seed * 1000003L + i).nextDouble()
}

/** What a workload hands the harness, and what the harness gives it. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def rec: Recorder = ctx.rec
  def seed: Long = ctx.seed
  /** Generate inputs and build every fixture under a fresh `dir`; the
    * harness builds several times and keeps the last. */
  def build(dir: String): Unit
  /** Untimed: bring the tables to the round's start state. */
  def prepare(round: Int): Unit = ()
  /** One round: a fixed sequence of ops, run as a closed loop. */
  def round(round: Int): Unit
  /** Untimed correctness checks on the state a round left behind. */
  def check(round: Int): Seq[String]
  /** Untimed: drop what the round wrote. */
  def cleanup(round: Int): Unit = ()
  /** Snapshot tables whose on-disk bytes `space_amp` compares with their
    * live data files, as left by `round`. */
  def tables(round: Int): Seq[String]
  /** Bytes of user data the workload's ops write (for `fs.write_amp`). */
  def userBytesPerOp: Double = 0.0

  protected def wipe(path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    SnapshotTable.invalidateRoots(path)
  }

  protected def bytesUnder(path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Order-insensitive fingerprint of a frame: (rows, Σ row hash mod p). */
  protected def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(df.columns.sorted.map(col): _*),
          lit(1000000007L))), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** A snapshot commit call: a `snapshot` span, and — while tracing —
    * the versions and live-file sets around it (bookkept in a `trace`
    * span, so its cost shows as trace overhead, not as commit time). */
  protected def commit[T](name: String, table: String)(body: => T): T = {
    def state(): (Int, Set[String]) = rec.span("trace", "commit_meta") {
      val v = SnapshotTable.latestVersion(spark, table)
      (v, if (v > 0) SnapshotTable.manifest(spark, table, v).files.toSet
        else Set.empty)
    }
    if (!rec.recording) return rec.span("snapshot", name)(body)
    val (v0, f0) = state()
    val out = rec.span("snapshot", name)(body)
    val (v1, f1) = state()
    val key = if (name == "maintain") "maintain" else "commit"
    ctx.add(s"$key.commits", (v1 - v0).toDouble)
    ctx.add(s"$key.files_added", (f1 -- f0).size.toDouble)
    ctx.add(s"$key.files_removed", (f0 -- f1).size.toDouble)
    out
  }
}

/** CSV drops of dirty claims through the paper's DAG chain: bronze
  * landing, batch-pruned bronze read, silver cleanse, snapshot append,
  * incremental gold publish, then one read of the gold summary. */
final class Ingest(ctx: Ctx) extends Workload(ctx) {
  val Orders = 20000L
  val Drops = 5
  /** Consecutive service months per drop. */
  val MonthsPerDrop = 2

  private var dir = ""
  private var expected: Array[Long] = Array.empty
  private var csvBytes = 0L

  private def lake(r: Int) = s"$dir/lake$r"
  private def silver(r: Int) = s"${lake(r)}/silver/claims"
  private def gold(r: Int) = s"${lake(r)}/gold"

  def build(d: String): Unit = {
    dir = d
    val sfDir = s"$d/data"
    Gen.writeStarSchema(spark, sfDir, Orders, seed)
    // seeded first month; drops then follow service-date order
    val first = (Gen.u(seed, 1) * (Gen.Months - Drops * MonthsPerDrop)).toInt
    val monthIdx = (year(col("o_orderdate")) - 1997) * 12 +
      month(col("o_orderdate")) - 1
    val drop = ((monthIdx - first) / MonthsPerDrop).cast("int")
    val orders = Tables.orders(spark, sfDir).withColumn("drop", drop)
      .filter(col("drop") >= 0 && col("drop") < Drops &&
        monthIdx >= first)
    RawClaims.fromOrders(orders).join(
        orders.select(col("o_orderkey"), col("drop")), "o_orderkey")
      .select(col("claim_id_raw").as("claim_id"),
        col("member_id_raw").as("member_id"),
        col("provider_raw").as("provider_name"),
        col("amount_raw").as("claim_amount"),
        col("service_date_raw").as("service_date"), col("drop"))
      .repartition(col("drop"))
      .write.partitionBy("drop")
      .option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(s"$d/incoming")
    // expected silver rows per drop, cleansed straight from orders
    val counts = SilverCleanse.clean(RawClaims.fromOrders(orders),
        passthrough = Seq("o_orderkey"))
      .join(orders.select(col("o_orderkey"), col("drop")), "o_orderkey")
      .groupBy("drop").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    expected = Array.tabulate(Drops)(i => counts.getOrElse(i, 0L))
    csvBytes = bytesUnder(s"$d/incoming")
  }

  def round(r: Int): Unit = {
    val bronze = s"${lake(r)}/bronze/claims"
    for (i <- 0 until Drops) ctx.op("drop") {
      val clock = to_timestamp(lit(f"2024-01-01 00:00:$i%02d"))
      val incoming = rec.span("pipeline", "csv_land") {
        Bronze.ingestCsv(spark, s"$dir/incoming/drop=$i")
      }
      rec.span("pipeline", "bronze_write") {
        Bronze.writeBronze(incoming, bronze, clock)
      }
      val batch = rec.span("pipeline", "bronze_read") {
        Bronze.readBronze(spark, bronze)
          .filter(col("batch_id") === date_format(clock, "yyyyMMdd_HHmmss"))
      }
      if (rec.recording)
        ctx.add("pipeline.bronze_files_read", batch.inputFiles.length)
      val claims = SilverCleanse.clean(batch.select(
          col("claim_id").as("claim_id_raw"),
          col("member_id").as("member_id_raw"),
          col("provider_name").as("provider_raw"),
          col("claim_amount").cast("double").as("amount_raw"),
          col("service_date").cast("string").as("service_date_raw"),
          col("ingestion_timestamp"), col("source_file"), col("batch_id")),
        passthrough = Seq("ingestion_timestamp", "source_file", "batch_id"),
        clock = clock)
      commit("append", silver(r)) {
        SnapshotTable.append(spark, silver(r), claims)
      }
      val parts = rec.span("pipeline", "gold_publish") {
        IncrementalGold.publishIncrementalSnapshot(spark, silver(r), gold(r))
      }
      ctx.add("pipeline.gold_parts_republished", parts.size)
      rec.span("gold", "gold_read") {
        spark.read.parquet(s"${gold(r)}/claims_summary").collect()
      }
      ctx.rows += expected(i)
    }
  }

  def check(r: Int): Seq[String] = {
    val problems = ArrayBuffer.empty[String]
    val silverDf = SnapshotTable.read(spark, silver(r))
    val rows = silverDf.count()
    if (rows != expected.sum)
      problems += s"ingest: silver holds $rows rows, drops cleansed to " +
        s"${expected.sum}"
    val cols = Seq("service_year", "service_month", "claim_amount_category",
      "total_claims", "unique_members", "total_amount", "n_flagged")
    def rowsOf(df: DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val published = rowsOf(spark.read.parquet(s"${gold(r)}/claims_summary"))
    val recomputed = rowsOf(IncrementalGold.goldOf(silverDf))
    if (published != recomputed)
      problems += s"ingest: published gold (${published.size} groups) " +
        s"differs from the full recompute (${recomputed.size} groups)"
    problems.toSeq
  }

  override def cleanup(r: Int): Unit = {
    wipe(silver(r))
    wipe(lake(r))
  }

  def tables(r: Int): Seq[String] = Seq(silver(r))

  override def userBytesPerOp: Double = csvBytes.toDouble / Drops
}

/** Row-level corrections and purges against a key-clustered silver
  * table, replicated to a mirror through the CDC follower, with
  * periodic maintenance. Every round starts from the table's v1. */
final class Change(ctx: Ctx) extends Workload(ctx) {
  val Orders = 20000L
  val Slices = 8

  private sealed trait Step
  private final case class Merge(slice: Int) extends Step
  private case object Purge extends Step
  private case object Maintain extends Step
  private case object Follow extends Step

  /** One round: three commits, the mirror catching up across them, then
    * a maintenance pass. Maintenance rewrites files but not content, so
    * the mirror must still equal the source's latest content. Follow
    * cost grows with the commits it replicates (~1.5 s each on 4 cores),
    * which is what bounds the round at three. */
  private val plan: Seq[Step] = Seq(Merge(0), Merge(1), Purge, Follow,
    Maintain)

  private var dir = ""
  private var src = ""
  private var moved: DataFrame = _
  private var slices: Array[Int] = Array.empty
  private var sliceRows: Map[Int, Long] = Map.empty
  private var movedBytes = 0.0
  private var threshold = 0.0
  /** Rows the purge erases, counted before the warmup round's purge. */
  private var purgeRows = -1L
  private var followed = 1
  private var target = 1

  private def mirror(r: Int) = s"$dir/change/mirror$r"
  private def followWork(r: Int) = s"$dir/change/follow$r"
  private def sliceCol = pmod(xxhash64(col("claim_id"), lit(seed)),
    lit(Slices.toLong)).cast("int")
  private def purgePred = col("claim_amount") > threshold

  def build(d: String): Unit = {
    dir = d
    val sfDir = s"$d/data"
    Gen.writeStarSchema(spark, sfDir, Orders, seed)
    src = s"$d/change/src"
    SnapshotTable.append(spark, src,
      FixtureCache.silverFull(spark, sfDir)
        .repartitionByRange(4, col("claim_id"))
        .sortWithinPartitions(col("claim_id")),
      statsColumns = Seq("claim_id"), rebalance = false)
    moved = FixtureCache.movedBatch(spark, sfDir).withColumn("slice", sliceCol)
    sliceRows = moved.groupBy("slice").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    slices = scala.util.Random.javaRandomToRandom(
      new java.util.Random(seed)).shuffle((0 until Slices).toList)
      .take(2).toArray
    movedBytes = bytesUnder(
      new Path(moved.inputFiles.head).getParent.toUri.getPath).toDouble
    // a purge of the top of the amount domain, seeded width
    threshold = 500000.0 - 1500.0 * (1 + Gen.u(seed, 2))
    purgeRows = -1L
  }

  override def prepare(r: Int): Unit = {
    SnapshotTable.truncateTo(spark, src, 1)
    SnapshotTable.append(spark, mirror(r),
      SnapshotTable.read(spark, src, Some(1)), statsColumns = Seq("claim_id"))
    followed = 1
  }

  def round(r: Int): Unit = plan.foreach {
    case Merge(i) => ctx.op("merge_mor") {
      commit("merge_mor", src) {
        SnapshotTable.mergeMor(spark, src,
          moved.filter(col("slice") === slices(i)).drop("slice"))
      }
      ctx.rows += sliceRows.getOrElse(slices(i), 0L)
    }
    case Purge =>
      if (purgeRows < 0)
        purgeRows = SnapshotTable.read(spark, src).filter(purgePred).count()
      ctx.op("delete_where") {
        commit("delete_where", src) {
          SnapshotTable.deleteWhere(spark, src, purgePred)
        }
        ctx.rows += purgeRows
      }
    case Maintain => ctx.op("maintain") {
      commit("maintain", src) { SnapshotTable.maintain(spark, src) }
    }
    case Follow =>
      target = SnapshotTable.latestVersion(spark, src)
      ctx.lagged {
        rec.span("cdc", "follow") {
          followed = SnapshotTable.followAvailableNow(spark, src, mirror(r),
            key = "claim_id", workDir = followWork(r), fromVersion = followed,
            statsColumns = Seq("claim_id"))
        }
      }
  }

  def check(r: Int): Seq[String] = {
    val problems = ArrayBuffer.empty[String]
    if (followed != target)
      problems += s"change: mirror follows v$followed, the follow was " +
        s"asked to reach v$target"
    val keyCols = Seq("claim_id", "batch_id", "claim_amount", "service_date",
      "service_year", "service_month").map(col)
    val a = fingerprint(SnapshotTable.read(spark, src).select(keyCols: _*))
    val b = fingerprint(SnapshotTable.read(spark, mirror(r))
      .select(keyCols: _*))
    if (a != b) problems += s"change: mirror $b differs from source $a"
    problems.toSeq
  }

  override def cleanup(r: Int): Unit = {
    wipe(mirror(r))
    wipe(followWork(r))
  }

  def tables(r: Int): Seq[String] = Seq(src)

  override def userBytesPerOp: Double = {
    val upserted = slices.map(s => sliceRows.getOrElse(s, 0L)).sum.toDouble
    val total = sliceRows.values.sum.toDouble max 1.0
    movedBytes * upserted / total / plan.count(_ != Follow)
  }
}

/** Read-only traffic on fixed tables: zone-pruned range scans, Bloom
  * point lookups, gold views, the DQ suite and one time-travel read. */
final class Read(ctx: Ctx) extends Workload(ctx) {
  val Orders = 20000L
  val KeysPerLookup = 10

  private sealed trait Query
  private final case class Range(lo: Double, hi: Double) extends Query
  private final case class Lookup(keys: Seq[String]) extends Query
  private case object Summary extends Query
  private case object Trend extends Query
  private case object Dq extends Query
  private case object TimeTravel extends Query

  private var sfDir = ""
  private var amountT = ""
  private var bloomT = ""
  private var queries: Seq[Query] = Nil
  /** Per probe: the (rows, hash) every round must return. */
  private val answers = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  private val problems = ArrayBuffer.empty[String]

  def build(d: String): Unit = {
    sfDir = s"$d/data"
    Gen.writeStarSchema(spark, sfDir, Orders, seed)
    val silver = FixtureCache.silverFull(spark, sfDir)
    amountT = s"$d/read/amount"
    SnapshotTable.append(spark, amountT,
      silver.repartitionByRange(4, col("claim_amount"))
        .sortWithinPartitions(col("claim_amount")),
      statsColumns = Seq("claim_amount"), rebalance = false)
    bloomT = s"$d/read/bloom"
    SnapshotTable.append(spark, bloomT,
      silver.repartition(2, col("claim_id")),
      statsColumns = Seq("claim_id"), rebalance = false)
    SnapshotTable.buildFileBlooms(spark, bloomT, Seq("claim_id", "member_id"))
    val keys = silver.select(col("claim_id"))
      .orderBy(xxhash64(col("claim_id"), lit(seed)))
      .limit(4 * KeysPerLookup).collect().map(_.getString(0)).toSeq
    def range(i: Int, width: Double) = {
      val lo = Gen.u(seed, 10 + i) * (500000.0 - width)
      Range(lo, lo + width)
    }
    val mix = (0 until 4).map(i => range(i, 2500.0)) ++
      (4 until 6).map(i => range(i, 150000.0)) ++
      keys.grouped(KeysPerLookup).map(Lookup(_)) ++
      Seq(Summary, Trend, Dq, TimeTravel)
    queries = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle(mix)
    answers.clear()
    problems.clear()
  }

  private def pred(q: Range) =
    col("claim_amount") >= q.lo && col("claim_amount") <= q.hi

  private def keysDf(q: Lookup): DataFrame = {
    val session = spark
    import session.implicits._
    q.keys.toDF("claim_id")
  }

  /** Every range and lookup probe answered from an unpruned read of the
    * whole snapshot: one scan per table, probes told apart inside it. */
  private def unprunedAnswers(): Map[Int, (Long, Long)] = {
    def hashed(df: DataFrame) = df.withColumn("__h",
      pmod(xxhash64(df.columns.sorted.map(col): _*), lit(1000000007L)))
    val ranges = queries.zipWithIndex.collect { case (r: Range, i) => (r, i) }
    val amount = hashed(SnapshotTable.read(spark, amountT))
    val row = amount.agg(lit(0), ranges.flatMap { case (r, _) => Seq(
      sum(when(pred(r), 1L).otherwise(0L)),
      sum(when(pred(r), col("__h")).otherwise(0L))) }: _*).collect()(0)
    val rangeAnswers = ranges.zipWithIndex.map { case ((_, i), j) =>
      i -> (row.getLong(1 + 2 * j), row.getLong(2 + 2 * j))
    }
    val session = spark
    import session.implicits._
    val probes = queries.zipWithIndex.collect { case (l: Lookup, i) =>
      l.keys.map(_ -> i) }.flatten.toDF("claim_id", "__probe")
    val found = hashed(SnapshotTable.read(spark, bloomT))
      .join(probes, "claim_id").groupBy("__probe")
      .agg(count(lit(1)), sum(col("__h"))).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val lookupAnswers = queries.zipWithIndex.collect { case (_: Lookup, i) =>
      i -> found.getOrElse(i, (0L, 0L)) }
    (rangeAnswers ++ lookupAnswers).toMap
  }

  private def scan(plan: => (DataFrame, Int, Int), public: => DataFrame)
      : (Long, Long) = {
    val df = rec.span("scan", "plan") {
      if (!rec.recording) public
      else {
        val (df, live, kept) = plan
        ctx.add("scan.files_live", live)
        ctx.add("scan.files_kept", kept)
        df
      }
    }
    rec.span("scan", "exec") { fingerprint(df) }
  }

  private def kindOf(q: Query): String = q match {
    case _: Range => "read_where"
    case _: Lookup => "read_keys"
    case _ => q.toString.toLowerCase
  }

  def round(r: Int): Unit = queries.zipWithIndex.foreach { case (q, i) =>
    ctx.op(kindOf(q)) {
      val got: (Long, Long) = q match {
        case r: Range => scan(
          { val (df, l, k) = SnapshotTable.readWherePlanned(spark, amountT,
              pred(r)); (df.filter(pred(r)), l, k) },
          SnapshotTable.readWhere(spark, amountT, pred(r)))
        case l: Lookup => scan(
          SnapshotTable.readKeysPlanned(spark, bloomT, keysDf(l), "claim_id"),
          SnapshotTable.readKeys(spark, bloomT, keysDf(l), "claim_id"))
        case Summary => rec.span("gold", "view") {
          val rows = GoldViews.claimsSummary(spark, sfDir).collect()
          (rows.length.toLong, 0L)
        }
        case Trend => rec.span("gold", "view") {
          val rows = GoldViews.monthlyTrend(spark, sfDir).collect()
          (rows.length.toLong, 0L)
        }
        case Dq => rec.span("gold", "dq") {
          val rows = DqEngine.silverReport(spark, sfDir).collect()
          (rows.length.toLong, 0L)
        }
        case TimeTravel => rec.span("scan", "time_travel") {
          fingerprint(SnapshotTable.read(spark, bloomT, version = Some(1)))
        }
      }
      ctx.rows += got._1
      answers.get(i) match {
        case None => answers(i) = got
        case Some(want) if want != got =>
          problems += s"read: round $r probe $i ($q) returned $got, " +
            s"an earlier round returned $want"
        case _ => ()
      }
    }
  }

  /** Round 0's answers must equal the unpruned reads (so pruning never
    * skipped a matching file); later rounds must repeat them. */
  def check(r: Int): Seq[String] = {
    if (r == 0) unprunedAnswers().foreach { case (i, want) =>
      if (answers(i) != want) problems += s"read: probe $i " +
        s"(${queries(i)}) returned ${answers(i)}, the unpruned read $want"
    }
    val out = problems.toSeq
    problems.clear()
    out
  }

  def tables(r: Int): Seq[String] = Seq(amountT, bloomT)
}
