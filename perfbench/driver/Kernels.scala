package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Per-row cost of the engine's native kernels, called directly on rows
  * of the workload's own fixture (2000 documents and 2000 embeddings),
  * outside any Spark job. Each figure is the median of 5 timed passes,
  * each pass repeating over the rows for at least 30 ms. */
object Kernels {
  private val Rows = 2000

  private def nsPerRow[A](rows: Array[A])(f: A => Long): Double = {
    var sink = 0L
    rows.foreach(r => sink += f(r)) // warm
    val samples = (1 to 5).map { _ =>
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 30000000L) {
        rows.foreach(r => sink += f(r)); n += rows.length
      }
      (System.nanoTime() - t0).toDouble / n
    }
    if (sink == 42L) System.err.print("") // keeps the calls observable
    samples.sorted.apply(2)
  }

  def nsPerRow(spark: SparkSession, data: String): Seq[(String, Double)] = {
    val texts = graft.engine.Tables.documents(spark, data).orderBy("doc_id")
      .select(col("text")).limit(Rows).collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val vecs: Array[ArrayData] = graft.engine.Tables.embeddings(spark, data)
      .orderBy("vec_id").select(col("embedding")).limit(Rows).collect()
      .map(r => new GenericArrayData(r.getSeq[Float](0).map(Float.box).toArray[Any]))
    val lit = Literal("")
    val planes = {
      val rnd = new scala.util.Random(42)
      Seq.fill(16)(Seq.fill(64)(rnd.nextGaussian()))
    }
    val gram = GramHashes(lit, 3)
    val minhash = MinHashSig(lit, 3, 32)
    val simhash = SimHashPortable(lit, 60)
    val cosine = CosineSimilarity(lit, lit)
    val hyper = HyperplaneSig(lit, planes)
    val bpe = BpeTokenCount(lit)
    val pairs = vecs.indices.map(i => (vecs(i), vecs((i + 1) % vecs.length))).toArray
    Seq(
      "functions.gram_hashes.ns_per_row" ->
        nsPerRow(texts)(t => gram.kernel(t).numElements().toLong),
      "functions.minhash_sig.ns_per_row" ->
        nsPerRow(texts)(t => minhash.kernel(t).getLong(0)),
      "functions.simhash_portable.ns_per_row" ->
        nsPerRow(texts)(t => simhash.kernel(t)),
      "functions.cosine_sim.ns_per_row" ->
        nsPerRow(pairs) { case (a, b) =>
          java.lang.Double.doubleToLongBits(
            cosine.nullSafeEval(a, b).asInstanceOf[Double])
        },
      "functions.hyperplane_sig.ns_per_row" ->
        nsPerRow(vecs)(v => hyper.kernel(v).asInstanceOf[Integer].longValue()),
      "functions.bpe_token_count.ns_per_row" ->
        nsPerRow(texts)(t => bpe.kernel(t)))
  }
}
