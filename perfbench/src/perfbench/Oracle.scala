package perfbench

import graft.core.Document

/**
 * Brute-force top-k in plain Scala: the reference answer every query
 * result is checked against. Scores are exact (float products summed in
 * double); the program scores in float32, so two scores are the same
 * when they differ by at most `Tol`.
 */
object Oracle {
  val Tol = 1e-5

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** The reference answer: how many documents pass the filter, and those
    * that score within Tol of the k-th best or above, best first. */
  final case class Ranked(eligible: Int, top: Array[(String, Double)])

  def ranked(docs: Iterable[Document], q: Array[Float], where: Map[String, String],
      whereDocument: Map[String, String], k: Int): Ranked = {
    val pass = docs.iterator.filter(d => passes(d, where, whereDocument)).toArray
    if (pass.isEmpty) return Ranked(0, Array.empty)
    val scores = pass.map(d => dot(d.embedding, q))
    val sorted = scores.clone()
    java.util.Arrays.sort(sorted)
    val kth = sorted(sorted.length - math.min(k, sorted.length))
    val top = pass.indices.iterator.filter(i => scores(i) >= kth - Tol)
      .map(i => pass(i).id -> scores(i)).toArray.sortBy { case (id, s) => (-s, id) }
    Ranked(pass.length, top)
  }

  /** chromem-go filter semantics: metadata equality (missing key = ""),
    * case-sensitive $contains on content (the only operator the
    * workloads send). */
  def passes(d: Document, where: Map[String, String], whereDocument: Map[String, String]): Boolean =
    where.forall { case (k, v) => d.metadata.getOrElse(k, "") == v } &&
      whereDocument.forall {
        case ("$contains", s) => Option(d.content).getOrElse("").contains(s)
        case _ => false
      }

  /** None when `got` is the top-k of `ref`: the same ids in (score desc,
    * id asc) order, scores within Tol. Ids whose reference score lies
    * within Tol of the k-th score may trade places or membership, since
    * float32 rounding decides between them. */
  def check(got: Seq[(String, Float)], ranked: Ranked, k: Int): Option[String] = {
    val ref = ranked.top
    val n = math.min(k, ranked.eligible)
    if (got.length != n) return Some(s"${got.length} results, expected $n")
    if (n == 0) return None
    val kth = ref(n - 1)._2
    val near = ref.iterator.takeWhile(_._2 >= kth - Tol).toMap
    for (((id, s), j) <- got.zipWithIndex) {
      val r = near.getOrElse(id, return Some(s"result $j id $id is not in the top $n"))
      if (math.abs(r - s) > Tol) return Some(s"id $id score $s, expected $r")
      if (j > 0) {
        val (pid, ps) = got(j - 1)
        if (ps < s || (ps == s && pid >= id)) return Some(s"results $j-1,$j out of order")
        if (near(pid) < r - 2 * Tol) return Some(s"results $j-1,$j ranked against the reference")
      }
    }
    val gotIds = got.iterator.map(_._1).toSet
    ref.iterator.takeWhile(_._2 > kth + Tol).find(r => !gotIds.contains(r._1))
      .map(r => s"missing ${r._1} (score ${r._2})")
  }
}
