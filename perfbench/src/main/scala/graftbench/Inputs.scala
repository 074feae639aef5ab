package graftbench

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.kg.{CorpusGen, FileSha, Gold, SourceFile}

/** The generated inputs of the `kg_delta` workload, written to parquet in
  * set-up so the timed runs read them the way a user's `--input/--kb/--kbctx`
  * tables are read.
  *
  * The seed picks the corpus: a range of `Files` file ids for
  * `CorpusGen.genFile`, disjoint for seeds below 100000. Day 1 applies the
  * churn rules of `CorpusGen.srcFilesV2` to that range (every 101st file
  * deleted, every file with offset % 17 == 3 modified, 5% new files after the
  * range); `srcFilesV2` itself only covers the range that starts at 0. The KB
  * is the stock 500-entity KB, so every dictionary and kbCtx join takes its
  * broadcast path.
  */
object Inputs {
  val Files = 500

  def firstId(seed: Long): Long = Math.floorMod(seed, 100000L) * 10000L

  private def day1Ids(spark: SparkSession, first: Long): Dataset[java.lang.Long] =
    spark.range(first, first + Files + Files / 20)
      .filter(id => !(id - first < Files && (id - first) % 101 == 0))

  private def mutate(f: SourceFile, first: Long, id: Long): SourceFile =
    if ((id - first) % 17 == 3) f.copy(content = f.content + "\n// housekeeping sweep") else f

  def day0(spark: SparkSession, seed: Long): Dataset[SourceFile] = {
    import spark.implicits._
    val first = firstId(seed)
    spark.range(first, first + Files).map(id => CorpusGen.genFile(id)._1)
  }

  def day1(spark: SparkSession, seed: Long): Dataset[SourceFile] = {
    import spark.implicits._
    val first = firstId(seed)
    day1Ids(spark, first).map(id => mutate(CorpusGen.genFile(id)._1, first, id))
  }

  def gold1(spark: SparkSession, seed: Long): Dataset[Gold] = {
    import spark.implicits._
    day1Ids(spark, firstId(seed)).flatMap(id => CorpusGen.genFile(id)._2)
  }

  def shas1(spark: SparkSession, seed: Long): Dataset[FileSha] = {
    import spark.implicits._
    day1(spark, seed).map(f => FileSha(f.repo, f.path, f.commit, CorpusGen.sha256Hex(f.content)))
  }

  /** Writes every input table under `dir`, replacing earlier contents. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    def put(ds: Dataset[_], name: String): Unit =
      ds.write.mode("overwrite").parquet(s"$dir/$name")
    put(day0(spark, seed), "day0")
    put(day1(spark, seed), "day1")
    put(CorpusGen.kbEntries(spark), "kb")
    put(CorpusGen.kbContexts(spark), "kbctx")
    put(gold1(spark, seed), "gold1")
    put(shas1(spark, seed), "shas1")
  }
}
