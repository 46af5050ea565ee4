package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.DiffConfig
import graft.ops.{KeyDiff, VennDiff}

/** Shared session + colorized report printing (reference O15/O16,
  * `/root/reference/src/index.js:53-63,143-153`). Counts come from
  * aggregates; row dumps are `limit`-guarded — never a collect-all
  * (100 TB posture, SURVEY §7.4.8).
  */
object Report {
  private val Green = "[32m"
  private val Red = "[31m"
  private val Yellow = "[33m"
  private val Reset = "[0m"

  def session(): SparkSession = SparkSession.builder()
    .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    .appName("graft")
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def bucketPrecounted(name: String, color: String, df: DataFrame,
      n: Long, limit: Int): Unit = {
    println(s"$color== $name: $n rows (showing up to $limit)$Reset")
    df.limit(limit).collect().foreach(r => println(s"$color  $r$Reset"))
  }

  /** All four buckets, reference order and colors — green added, red
    * removed, yellow changed, plain (white) unchanged
    * (`/root/reference/src/index.js:143-153`).
    *
    * Cost discipline (100 TB posture): the diff join runs ONCE. The
    * input is localCheckpointed (severs the join lineage so no bucket
    * dump replays it), all five bucket/summary counts come from the one
    * `summary()` aggregate over the checkpoint, and each bucket dump is
    * a limit-guarded scan of the checkpointed rows — ≤5 jobs total
    * (1 checkpoint + 1 summary + ≤4 dumps) vs the naive 9 full re-joins.
    */
  def printKeyDiff(d: DataFrame, limit: Int = 20): Unit = {
    val dc = d.localCheckpoint()
    val counts = KeyDiff.summary(dc).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s = col(KeyDiff.StatusCol)
    bucketPrecounted("added", Green, dc.filter(s === "added"),
      counts.getOrElse("added", 0L), limit)
    bucketPrecounted("removed", Red, dc.filter(s === "removed"),
      counts.getOrElse("removed", 0L), limit)
    bucketPrecounted("changed", Yellow, dc.filter(s === "changed"),
      counts.getOrElse("changed", 0L), limit)
    bucketPrecounted("unchanged", Reset, dc.filter(s === "unchanged"),
      counts.getOrElse("unchanged", 0L), limit)
    // same lines the summary() pass used to print: status-sorted
    counts.toSeq.sortBy(_._1).foreach { case (st, n) =>
      println(s"$st: $n rows")
    }
  }

  /** Venn report — removed/added/intersection buckets, reference order
    * (`/root/reference/src/index.js:53-63`, label swap at :60-61 fixed).
    *
    * Cost discipline (100 TB posture): the single-shuffle
    * `VennDiff.counted` union+aggregate runs ONCE (localCheckpoint severs
    * its lineage), all three bucket counts come from one aggregate over
    * the checkpoint, and each bucket dump re-expands row multiplicities
    * (capped at `limit`) from the checkpointed counted rows — ≤5 jobs
    * total vs the old shape's 6 full set-op executions (each of the three
    * exceptAll/intersectAll plans ran twice: count + dump).
    */
  def printVennDiff(oldDf: DataFrame, newDf: DataFrame,
      cfg: DiffConfig = DiffConfig(), limit: Int = 20): Unit = {
    val c = VennDiff.counted(oldDf, newDf, cfg).localCheckpoint()
    val rowCols = c.columns.filterNot(VennDiff.ReservedCols).toSeq
    val t = c.agg(
      coalesce(sum("removed"), lit(0L)).as("r"),
      coalesce(sum("added"), lit(0L)).as("a"),
      coalesce(sum("common"), lit(0L)).as("c")).collect()(0)
    def dump(name: String, color: String, cnt: String, total: Long): Unit = {
      // exceptAll/intersectAll emit each distinct row `cnt` times; rebuild
      // that multiset view from the counted rows, capping the expansion at
      // `limit` so the dump stays bounded regardless of multiplicity.
      val rows = c.filter(col(cnt) > 0)
        .withColumn("__dup",
          explode(sequence(lit(1L), least(col(cnt), lit(limit.toLong)))))
        .select(rowCols.map(col).toIndexedSeq: _*)
      bucketPrecounted(name, color, rows, total, limit)
    }
    dump("removed (old ∖ new)", Red, "removed", t.getAs[Long]("r"))
    dump("added (new ∖ old)", Green, "added", t.getAs[Long]("a"))
    dump("intersection", Reset, "common", t.getAs[Long]("c"))
  }
}

/** `key_diff <oldFile> <newFile> <comma,separated,key>` — arg-compatible
  * with `/root/reference/bin/key_diff.js:7-15`.
  */
object KeyDiffApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: KeyDiffApp <oldFile> <newFile> <key,fields>")
    val Array(oldFile, newFile, key) = args
    val spark = Report.session()
    spark.sparkContext.setLogLevel("WARN")
    val d = KeyDiff.diff(
      spark.read.format("avro").load(oldFile),
      spark.read.format("avro").load(newFile),
      key.split(',').toSeq)
    Report.printKeyDiff(d)
    spark.stop()
  }
}

/** `venn_diff <oldFile> <newFile>` — arg-compatible with
  * `/root/reference/bin/venn_diff.js:7-14`. Prints correct labels (the
  * reference swaps added/removed counts at `src/index.js:60-61`).
  */
object VennDiffApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: VennDiffApp <oldFile> <newFile>")
    val Array(oldFile, newFile) = args
    val spark = Report.session()
    spark.sparkContext.setLogLevel("WARN")
    val o = spark.read.format("avro").load(oldFile)
    val n = spark.read.format("avro").load(newFile)
    Report.printVennDiff(o, n)
    spark.stop()
  }
}

/** `corpus_clean <docsParquet> <outParquet> [--transitive]` — the
  * end-to-end training-corpus cleaning pipeline (quality gate → exact
  * dedup → LSH near-dup removal; `--transitive` switches the last stage
  * to connected-component survivors) as a spark-submit-able batch job:
  * parquet in, cleaned parquet + a printed keep/drop summary out.
  * Extended-scope CLI — the reference has no corpus surface.
  */
object CorpusCleanApp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CorpusCleanApp <docsParquet> <outParquet> [--transitive]")
    val in = args(0)
    val out = args(1)
    val transitive = args.contains("--transitive")
    val spark = Report.session()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(in)
    val cleaned =
      if (transitive) graft.ops.Dedup.cleanCorpusTransitive(docs, "doc_id", "text")
      else graft.ops.Dedup.cleanCorpus(docs, "doc_id", "text")
    cleaned.write.mode("overwrite").parquet(out)
    val nIn = docs.count()
    val nOut = spark.read.parquet(out).count()
    println(s"corpus_clean: kept $nOut of $nIn docs " +
      f"(${100.0 * nOut / math.max(nIn, 1L)}%.1f%%) -> $out" +
      (if (transitive) " [transitive]" else ""))
    spark.stop()
  }
}
