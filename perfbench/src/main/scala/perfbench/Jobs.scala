package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types.MapType

import graft.SparkEntry
import graft.core.{MapReduceJob, Workloads}

/** One job of a workload: `build` constructs the result through graft's
  * public entry point and `write` runs the action that follows it.
  */
trait Job {
  def name: String
  /** Bytes of input this job reads in one run. */
  def inputBytes: Long
  def build(spark: SparkSession): AnyRef
  def write(spark: SparkSession, built: AnyRef): Unit
}

/** A registered query: `SparkEntry.queries(name)(spark, dir)`, then the
  * no-op write `graft.Bench` times.
  */
final case class QueryJob(name: String, dir: String, tables: Seq[String]) extends Job {
  val inputBytes: Long = tables.map(t => new File(s"$dir/$t.parquet").length).sum
  def build(spark: SparkSession): AnyRef = SparkEntry.queries(name)(spark, dir)
  def write(spark: SparkSession, built: AnyRef): Unit =
    built.asInstanceOf[DataFrame].write.mode("overwrite").format("noop").save()
}

/** A MapReduce application over the generated corpus: `MapReduceJob.run`,
  * then `MapReduceJob.writeSortedText` into the job's sink directory.
  */
final case class MrJob(name: String, glob: String, inputBytes: Long, sink: String,
    job: MapReduceJob) extends Job {
  def build(spark: SparkSession): AnyRef = job.run(spark, glob)
  def write(spark: SparkSession, built: AnyRef): Unit =
    MapReduceJob.writeSortedText(built.asInstanceOf[org.apache.spark.sql.Dataset[graft.core.KeyValue]], sink)
}

object Jobs {

  /** Near-dup queries (Direction 3's family). */
  val NearDup: Seq[String] = Seq("dedup_jaccard3", "lsh_tune")

  /** Streaming twins and the batch queries that share their oracle SQL
    * (Direction 4): (stream twin, batch twin, table both read).
    */
  val StreamPairs: Seq[(String, String, String)] = Seq(
    ("q25_stream_window", "q15_events_window", "events"))

  def nearDupStream(dir: String): Seq[Job] =
    NearDup.map(QueryJob(_, dir, Seq("documents"))) ++
      StreamPairs.flatMap { case (s, b, t) => Seq(QueryJob(s, dir, Seq(t)), QueryJob(b, dir, Seq(t))) }

  /** The four MapReduce applications of the paper over the corpus in
    * `data/corpus`. `crash` fails the first attempt of every map task whose
    * partition is picked by the seed; the session allows one retry.
    */
  def mrCorpus(data: String, sinks: String, seed: Long): Seq[Job] = {
    val files = new File(s"$data/corpus").listFiles().filter(_.getName.endsWith(".txt"))
    val bytes = files.map(_.length).sum
    val glob = s"${new File(data).getAbsolutePath}/corpus/*.txt"
    val pick = math.floorMod(seed, 3L)
    val inject: () => Unit = () => {
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && (tc.partitionId() + pick) % 3 == 0)
        throw new IllegalStateException(s"injected map failure, partition ${tc.partitionId()}")
    }
    def mr(name: String, job: MapReduceJob) = MrJob(name, glob, bytes, s"$sinks/$name", job)
    Seq(
      mr("wc", new MapReduceJob(Workloads.wcMap, Workloads.wcReduce)),
      mr("indexer", new MapReduceJob(Workloads.indexerMap, Workloads.indexerReduce)),
      mr("nocrash", new MapReduceJob(Workloads.nocrashMap, Workloads.nocrashReduce)),
      mr("crash", new MapReduceJob(Workloads.crashMap(inject), Workloads.crashReduce(() => ()))))
  }

  /** Order-insensitive digest of a result: row count and the wrapping sum of
    * one xxhash64 per row over the columns sorted by name (maps hashed
    * through their string form).
    */
  def digest(df: DataFrame): String = {
    val s = df.sparkSession
    import s.implicits._
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType.isInstanceOf[MapType]) c.cast("string") else c
    }
    val (n, h) = df.select(xxhash64(cols.toIndexedSeq: _*)).as[Long]
      .mapPartitions { it =>
        var n = 0L
        var h = 0L
        it.foreach { x => n += 1; h += x }
        Iterator((n, h))
      }
      .collect()
      .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    f"$n:$h%016x"
  }

  /** Compare the text files of a `writeSortedText` sink, concatenated in
    * part order, with the expected lines. Returns the first difference.
    */
  def compareSink(sink: String, expected: String): Option[String] = {
    val parts = new File(sink).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).toSeq
    val want = Files.newBufferedReader(Paths.get(expected), StandardCharsets.UTF_8)
    try {
      var line = 0
      for (p <- parts) {
        val got = Files.newBufferedReader(p.toPath, StandardCharsets.UTF_8)
        try {
          var g = got.readLine()
          while (g != null) {
            line += 1
            val w = want.readLine()
            if (g != w) return Some(s"line $line: got '${g.take(80)}', want '${String.valueOf(w).take(80)}'")
            g = got.readLine()
          }
        } finally got.close()
      }
      val w = want.readLine()
      if (w != null) Some(s"line ${line + 1}: output ends, want '${w.take(80)}'") else None
    } finally want.close()
  }

  /** Regular files left under the temporary directory, at any depth: the
    * `graft-stage` root and whatever else jobs put there. Native libraries
    * that compression codecs unpack into it are not job output.
    */
  def leftovers(tmp: Path): Int = {
    val st = Files.walk(tmp)
    try st.iterator.asScala.count { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.endsWith(".so") && !n.endsWith(".so.lck")
    } finally st.close()
  }
}
