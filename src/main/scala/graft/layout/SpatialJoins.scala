package graft.layout

import java.util.regex.Pattern

/** Per-document spatial containment joins.
  *
  * These are the reference's only "joins" (SURVEY.md §2.3); they operate on
  * the co-located block array of a single document, so the Spark engine runs
  * them as array-local functions inside the row — no shuffle.
  */
object SpatialJoins {

  /** `_build_table_image_map` (`_mineru25.py:395-432`): assign each `image`
    * block to the best covering `table` (cover ratio ≥ threshold; ties broken
    * by higher ratio then smaller table area); absorbed images sorted (y, x).
    */
  def buildTableImageMap(
      blocks: Vector[Block],
      threshold: Double = 0.9,
      tableIndices0: Option[Vector[Int]] = None): Map[Int, Vector[Int]] = {
    val tableIndices = tableIndices0.getOrElse(
      blocks.indices.filter(i => blocks(i).kind == "table").toVector)
    if (tableIndices.isEmpty) return Map.empty
    val tableToImages = scala.collection.mutable.LinkedHashMap.empty[Int, Vector[Int]]
    tableIndices.foreach(ti => tableToImages(ti) = Vector.empty)

    blocks.indices.foreach { imageIndex =>
      val block = blocks(imageIndex)
      if (block.kind == "image") {
        var bestTable: Int = -1
        var bestRatio = threshold
        var bestArea = Double.NaN
        tableIndices.foreach { ti =>
          val ratio = BBoxOps.coverRatio(block.bbox, blocks(ti).bbox)
          if (ratio >= threshold) {
            val area = BBoxOps.area(blocks(ti).bbox)
            if (bestTable < 0 || ratio > bestRatio ||
                (ratio == bestRatio && !bestArea.isNaN && area < bestArea)) {
              bestTable = ti
              bestRatio = ratio
              bestArea = area
            }
          }
        }
        if (bestTable >= 0)
          tableToImages(bestTable) = tableToImages(bestTable) :+ imageIndex
      }
    }
    tableToImages.view.mapValues { imgs =>
      imgs.sortBy(i => (blocks(i).bbox(1), blocks(i).bbox(0)))
    }.toMap
  }

  /** `_find_covered_block_indices` (`_mineru25.py:1002-1023`): candidates
    * covered ≥ threshold by any container block (semi-join → returned set is
    * used as an anti-filter).
    */
  def findCoveredBlockIndices(
      blocks: Vector[Block],
      candidateTypes: Set[String],
      containerTypes: Set[String],
      threshold: Double = Blocks.InternalBlockThreshold): Set[Int] = {
    val containerIndices = blocks.indices.filter(i => containerTypes.contains(blocks(i).kind))
    if (containerIndices.isEmpty) return Set.empty
    val covered = Set.newBuilder[Int]
    blocks.indices.foreach { idx =>
      if (candidateTypes.contains(blocks(idx).kind)) {
        val hit = containerIndices.exists(ci =>
          ci != idx && BBoxOps.coverRatio(blocks(idx).bbox, blocks(ci).bbox) >= threshold)
        if (hit) covered += idx
      }
    }
    covered.result()
  }
}

/** Deterministic table-image token generation.
  *
  * The reference draws 4-char tokens from an 18-char alphabet with
  * `random.choices` (`_mineru25.py:48-52,391-392,544-552`); for reproducible
  * distributed execution we derive them from a 64-bit hash of
  * `(doc_id, table block index)` via splitmix64 — same alphabet, same length,
  * same uniqueness-reroll loop (SURVEY.md §7.4 risk 3).
  */
object TableImageTokens {
  val Chars = "ACDGHKTWXYZ" + "2345678"
  val TokenLength = 4

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def fnv64(s: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  /** Stateful deterministic token source for one (doc, table). */
  final class Gen(docId: String, tableIdx: Int) {
    private var state = fnv64(docId + "#" + tableIdx)
    private val used = scala.collection.mutable.HashSet.empty[String]

    def next(): String = {
      var token: String = null
      do {
        val sb = new java.lang.StringBuilder(TokenLength)
        var k = 0
        while (k < TokenLength) {
          state = splitmix64(state)
          sb.append(Chars.charAt(java.lang.Long.remainderUnsigned(state, Chars.length.toLong).toInt))
          k += 1
        }
        token = sb.toString
      } while (!used.add(token))
      token
    }
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Pattern]()

  /** `_replace_table_image_tokens` (`_mineru25.py:444-451`): `[ TOK ]` with
    * arbitrary inner padding → an img tag pointing at the absorbed media.
    */
  def replaceTokens(content: String, tokenMap: Seq[(String, String)]): String = {
    var c = content
    tokenMap.foreach { case (token, ref) =>
      val tokenInner = token.substring(1, token.length - 1)
      val pat = cache.computeIfAbsent(tokenInner,
        ti => Pattern.compile("\\[\\s*" + Pattern.quote(ti) + "\\s*\\]"))
      c = pat.matcher(c).replaceAll(
        java.util.regex.Matcher.quoteReplacement(s"""<img src="$ref"/>"""))
    }
    c
  }
}
