package graft.perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.sim.{HashKernels, SimKernels, VecKernels}

/** Single-thread kernel rates (rows/s), JIT-warm, on generated rows.
  * Each kernel runs whole passes over its rows: a warm-up of at least
  * `warmS` seconds, then timed passes for at least `timeS` seconds.
  */
object Kernels {

  final case class Inputs(texts: Array[UTF8String], sigPairs: Array[(UnsafeArrayData, UnsafeArrayData)],
      strPairs: Array[(String, String)], datePairs: Array[(String, String)],
      vecPairs: Array[(UnsafeArrayData, UnsafeArrayData)])

  @volatile private var sink = 0.0

  /** Kernel inputs for `seed`: page texts and the MinHash signatures of
    * near-dup page pairs from the crawl generator, name and date-of-
    * birth twin pairs from the match generator, and query/corpus
    * vector pairs from the embedding generator.
    */
  def inputs(seed: Long): Inputs = {
    val pages = Gen.crawlPages(seed, 1500, 0L, "kernel.example.org")
    val texts = pages.map(p => UTF8String.fromString(p.text)).toArray
    def sig(t: UTF8String) = UnsafeArrayData.fromPrimitiveArray(HashKernels.minhashWords(t, 5, 128, 42L))
    val sigs = texts.map(sig)
    val sigPairs = sigs.indices.map(i => (sigs(i), sigs((i * 7 + 1) % sigs.length))).toArray
    val (s1, s2, twin) = Gen.matchPair(seed, 3000)
    val byId = s2.map(p => p.id -> p).toMap
    val people = s1.map(p => (p, byId(twin(p.id))))
    def nz(s: String) = if (s == null) "" else s.toLowerCase
    val strPairs = people.flatMap { case (a, b) =>
      Seq((nz(a.name), nz(b.name)), (nz(a.email), nz(b.email)))
    }.toArray
    val datePairs = people.map { case (a, b) => (a.dob, if (b.dob == null) "" else b.dob) }.toArray
    val (corpus, queries) = Gen.embeddings(seed, 1000, 2, 64, 50)
    val qv = queries.map(q => UnsafeArrayData.fromPrimitiveArray(q.v))
    val cv = corpus.map(c => UnsafeArrayData.fromPrimitiveArray(c.v))
    val vecPairs = cv.indices.map(i => (qv(i % qv.size), cv(i))).toArray
    Inputs(texts, sigPairs, strPairs, datePairs, vecPairs)
  }

  private def rate(rows: Int, warmS: Double, timeS: Double)(one: Int => Double): (Double, Long) = {
    def pass(): Unit = {
      var acc = 0.0; var i = 0
      while (i < rows) { acc += one(i); i += 1 }
      sink += acc
    }
    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < warmS) pass()
    val t0 = System.nanoTime()
    var n = 0L
    while ((System.nanoTime() - t0) / 1e9 < timeS) { pass(); n += rows }
    (n / ((System.nanoTime() - t0) / 1e9), n)
  }

  /** (rows/s, rows timed) per kernel, keyed by its `sim.<kernel>` name. */
  def rates(in: Inputs, warmS: Double = 0.2, timeS: Double = 0.3): Seq[(String, (Double, Long))] = {
    val r = rate(_: Int, warmS, timeS) _
    Seq(
      "minhash_words" -> r(in.texts.length)(i => HashKernels.minhashWords(in.texts(i), 5, 128, 42L)(0)),
      "sig_agree" -> r(in.sigPairs.length)(i => VecKernels.sigAgree(in.sigPairs(i)._1, in.sigPairs(i)._2)),
      "jaro_winkler" -> r(in.strPairs.length)(i => SimKernels.jaroWinkler(in.strPairs(i)._1, in.strPairs(i)._2)),
      "token_set_ratio" -> r(in.strPairs.length)(i =>
        SimKernels.tokenSetRatio(in.strPairs(i)._1, in.strPairs(i)._2)),
      "levenshtein" -> r(in.strPairs.length)(i =>
        SimKernels.levenshteinSim(in.strPairs(i)._1, in.strPairs(i)._2)),
      "date_sim" -> r(in.datePairs.length)(i =>
        SimKernels.dateSimilarity(in.datePairs(i)._1, in.datePairs(i)._2)),
      "vec_dot" -> r(in.vecPairs.length)(i => VecKernels.dotF(in.vecPairs(i)._1, in.vecPairs(i)._2)))
  }
}
