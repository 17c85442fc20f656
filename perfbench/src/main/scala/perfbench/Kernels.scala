package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, RuntimeReplaceable, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions._

/** `functions.<kernel>.ns_per_row`: each engine kernel evaluated through
  * its generated projection over rows loaded once into memory, with no
  * Spark job in the timed loop.
  */
object Kernels {
  // The engine's own parameters for these kernels (Dedup.NumHashes,
  // Dedup.DupSpanK, Sketches.WinnowWindow).
  private val NumHashes = 8
  private val DupSpanK = 8
  private val WinnowWindow = 4
  private val MaxRows = 20000

  def measure(spark: SparkSession, data: String): Map[String, Double] = {
    val text: DataFrame =
      if (Files.exists(Paths.get(s"$data/documents.parquet")))
        spark.read.parquet(s"$data/documents.parquet").select(col("text"))
      else spark.read.text(s"$data/corpus").where(col("value") =!= "").select(col("value").as("text"))
    val docs = local(spark, text.limit(MaxRows)
      .withColumn("sh", WordShingles.of(col("text")))
      .withColumn("w", filter(ByteSplit.split(col("text")), x => x =!= ""))
      .withColumn("hs", WinnowHashes.of(col("text"))))
    val toks = local(spark, text.select(explode(ByteSplit.split(col("text"))).as("tok")).limit(MaxRows * 4))
    val vecs = vectors(spark)

    def k(e: Expression): Column = Bridge.column(e)
    def x(c: Column): Expression = Bridge.expression(c)
    Seq(
      "byte_split" -> (docs, ByteSplit.split(col("text"))),
      "normalize_word" -> (toks, graft.core.WordCount.normalize(col("tok"))),
      "normalize_word_builtin" -> (toks, graft.core.WordCount.normalizeBuiltin(col("tok"))),
      "canon_fp" -> (docs, CanonFp.of(col("text"))),
      "word_shingles" -> (docs, WordShingles.of(col("text"))),
      "minhash_sig" -> (docs, MinhashSig.sig(col("sh"), NumHashes)),
      "gram_md5" -> (docs, GramMd5.of(col("w"), DupSpanK)),
      "winnow_hashes" -> (docs, WinnowHashes.of(col("text"))),
      "winnow_select" -> (docs, WinnowSelect.of(col("hs"), WinnowWindow)),
      "dot_product" -> (vecs, k(DotProduct(x(col("a")), x(col("b"))))),
      "centroid_argmin" -> (vecs, k(CentroidArgmin(x(col("a")), x(col("cands")))))
    ).map { case (name, (in, kernel)) => name -> nsPerRow(in, kernel) }.toMap
  }

  /** Materialize `df` so the timed loop reads rows from memory. */
  private def local(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** 64-dim float vectors, a second operand, and 16 centroid
    * candidates sorted by id, shaped as `KmeansIvf.assignCells` builds
    * them.
    */
  private def vectors(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val r = new java.util.Random(7)
    def v(): Seq[Float] = Seq.fill(64)(r.nextFloat() * 2 - 1)
    val cands = (0 until 16).map { i =>
      val c = v()
      Row(i, c, c.map(f => f.toDouble * f).sum)
    }
    val vec = ArrayType(FloatType, containsNull = false)
    val schema = StructType(Seq(
      StructField("a", vec), StructField("b", vec),
      StructField("cands", ArrayType(StructType(Seq(StructField("cid", IntegerType),
        StructField("centroid", vec), StructField("nc2", DoubleType))), containsNull = false))))
    spark.createDataFrame(Seq.fill(4000)(Row(v(), v(), cands)).asJava, schema)
  }

  private def nsPerRow(in: DataFrame, kernel: Column): Double = {
    val plan = in.select(kernel.as("k")).queryExecution.analyzed
    val Project(Seq(Alias(expr, _)), child) = plan
    val bound = BindReferences.bindReference(
      expr.transform { case r: RuntimeReplaceable => r.replacement }, child.output)
    val proj = UnsafeProjection.create(Seq(bound))
    val rows: Array[InternalRow] =
      in.queryExecution.toRdd.map(_.copy()).collect()
    def sweep(): Unit = { var i = 0; while (i < rows.length) { proj(rows(i)); i += 1 } }
    // Warm up for 0.3 s, then median of five timed sweeps of >= 0.1 s.
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < 300000000L) sweep()
    val samples = (1 to 5).map { _ =>
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 100000000L) { sweep(); n += rows.length }
      (System.nanoTime() - t0).toDouble / n
    }.sorted
    samples(2)
  }
}
