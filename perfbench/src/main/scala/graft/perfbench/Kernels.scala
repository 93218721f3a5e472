package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions._

/** ns per row of each codegen kernel in `graft.functions`, net of a
  * plain projection of the same input columns. Inputs are the
  * `documents` and `embeddings` rows, replicated to `rows` rows and
  * held in memory so both sides read the same cached data. */
object Kernels {
  private val reps = 3

  def measure(spark: SparkSession, data: String, rows: Long = 20000L): Map[String, Any] = {
    def replicated(df: DataFrame): DataFrame = {
      val k = math.max(1L, rows / df.count())
      val r = df.crossJoin(spark.range(k).toDF("rep")).persist(StorageLevel.MEMORY_ONLY)
      r.write.format("noop").mode("overwrite").save()
      r
    }
    val docs = replicated(graft.Tables.documents(spark, data).select("text"))
    val emb = replicated(graft.Tables.embeddings(spark, data).select("embedding"))
    val words = split(col("text"), " ")
    val series = Seq(expr("transform(embedding, (x, i) -> cast(i as bigint))"),
      expr("transform(embedding, x -> cast(x as double))"))
    val signs = Array.tabulate(16 * 64)(i => if ((i * 2654435761L & 64) == 0) 1.0 else -1.0)
    val kernels: Seq[(String, DataFrame, Seq[Column], Column)] = Seq(
      ("simhash64", docs, Seq(col("text")), TextHashExprs.simhash64(spark, col("text"))),
      ("shingle_minhash", docs, Seq(col("text")), TextHashExprs.minhashSig(spark,
        TextHashExprs.shingleHashes(spark, col("text"), 3), 16)),
      ("gear_chunks", docs, Seq(col("text")),
        GearChunks.gearChunks(spark, col("text"), 24, 0x3fL, 192)),
      ("lcs_len", docs, Seq(words), LcsExprs.lcsLen(spark, words, reverse(words))),
      ("vec_cosine", emb, Seq(col("embedding")),
        VectorExprs.vecCosine(spark, col("embedding"), col("embedding"))),
      ("vec_lsh_bits", emb, Seq(col("embedding")),
        VectorExprs.vecLshBits(spark, col("embedding"), signs, 16, 64)),
      ("gorilla_encode", emb, series, Gorilla.encode(spark, series(0), series(1))),
    )
    def ms(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    val out = kernels.map { case (name, in, plain, kernel) =>
      val n = in.count()
      val p = plain.zipWithIndex.map { case (c, i) => c.as(s"c$i") }
      ms(in.select(p: _*)); ms(in.select(kernel.as("k")))
      val pairs = (1 to reps).map(_ => (ms(in.select(p: _*)), ms(in.select(kernel.as("k")))))
      name -> Map("rows" -> n, "plain_ms" -> pairs.map(_._1), "kernel_ms" -> pairs.map(_._2))
    }.toMap
    docs.unpersist(); emb.unpersist()
    out
  }
}
