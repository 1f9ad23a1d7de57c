package graft.perfbench

import java.io.File
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.VersionedTable

/** Read-only views of a lake root: what is on disk and what the commit logs say. */
object Lake {

  final case class Usage(files: Long, bytes: Long) {
    def -(o: Usage): Usage = Usage(files - o.files, bytes - o.bytes)
  }

  /** Regular files and their bytes under `dir` (0 if it does not exist). */
  def usage(dir: String): Usage = {
    def walk(f: File): Usage =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk)
        .foldLeft(Usage(0, 0))((a, b) => Usage(a.files + b.files, a.bytes + b.bytes))
      else if (f.isFile) Usage(1, f.length())
      else Usage(0, 0)
    walk(new File(dir))
  }

  def delete(dir: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(dir))
  }

  /** Every versioned table under `root` (a directory holding a `_commit_log`). */
  def tables(root: String): Seq[String] = {
    def find(f: File): Seq[String] =
      if (!f.isDirectory) Nil
      else if (new File(f, "_commit_log").isDirectory) Seq(f.getAbsolutePath)
      else Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(find)
    find(new File(root))
  }

  /** (table, commit) for every commit of every table under `root`. */
  def commits(spark: SparkSession, root: String): Seq[(String, VersionedTable.Commit)] =
    tables(root).flatMap(t => VersionedTable.commits(spark, t).map(t -> _))

  def epochMs(c: VersionedTable.Commit): Long = Instant.parse(c.timestamp).toEpochMilli
}

/** Correctness gates: each compares what the pipeline committed with the same
  * answer computed directly from the staged input.
  */
object Gates {

  /** Row-multiset equality on `expected`'s columns, every value compared as a
    * string (partition columns read back with their own types).
    */
  def sameRows(expected: DataFrame, got: DataFrame): (Boolean, String) = {
    val cols = expected.columns.toSeq
    def norm(df: DataFrame) = df.select(cols.map(c => col(c).cast("string").as(c)): _*)
    val (e, g) = (norm(expected), norm(got))
    val (ec, gc) = (e.count(), g.count())
    val missing = e.exceptAll(g).count()
    val extra = g.exceptAll(e).count()
    (ec == gc && missing == 0 && extra == 0,
      s"expected $ec rows, got $gc: $missing missing, $extra unexpected")
  }

  /** Aggregate-view equality: group keys and `n_rows` exactly, `sum_*`
    * columns within a relative 1e-9 (an incrementally maintained sum adds and
    * retracts in another order than a recompute does).
    */
  def sameView(expected: DataFrame, got: DataFrame, keys: Seq[String]): (Boolean, String) = {
    val sums = expected.columns.filter(_.startsWith("sum_")).toSeq
    def side(df: DataFrame, tag: String) =
      df.select(keys.map(col) ++ (("n_rows" +: sums).map(c => col(c).as(s"${tag}_$c"))): _*)
    val j = side(expected, "e").join(side(got, "g"), keys, "full_outer")
    val sumBad = sums.map { c =>
      val (e, g) = (col(s"e_$c"), col(s"g_$c"))
      abs(e - g) > greatest(lit(1.0), abs(e)) * 1e-9
    }
    val countBad = col("e_n_rows").isNull || col("g_n_rows").isNull ||
      col("e_n_rows") =!= col("g_n_rows")
    val bad = j.filter((countBad +: sumBad).reduce(_ || _)).count()
    (bad == 0, s"$bad of ${j.count()} view groups differ from the recompute")
  }
}
