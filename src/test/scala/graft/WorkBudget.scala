package graft

import graft.metrics.Profile
import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** Work budgets (`src/test/resources/work_budget.json`): per catalog query
  * and for `extract_job`, the ceiling of each [[Profile.Counters]] entry that
  * repeats exactly from run to run; a counter missing from a line varies
  * between runs and is not budgeted (ROADMAP direction 1 names each one).
  * A counter above its ceiling is an error naming the tag and the counter;
  * one below it prints the new number, so the line can be lowered. A change
  * that must add work raises the line and says why in CHANGES.md.
  */
object WorkBudget {

  val lines: Map[String, Map[String, Long]] = {
    val in = getClass.getResourceAsStream("/work_budget.json")
    try new ObjectMapper().readTree(in).properties().asScala.map { e =>
      e.getKey -> e.getValue.properties().asScala.map(c => c.getKey -> c.getValue.asLong).toMap
    }.toMap
    finally in.close()
  }

  /** One message per counter of `tag`'s work above its budget. */
  def over(tag: String, work: Seq[(String, Long)]): Seq[String] = lines.get(tag) match {
    case None => Seq(s"$tag: no line in work_budget.json")
    case Some(line) => work.flatMap { case (counter, n) =>
      line.get(counter).flatMap { limit =>
        if (n < limit) println(s"work budget: $tag $counter $n is below its budget $limit")
        if (n > limit) Some(s"$tag: $counter $n exceeds its budget $limit") else None
      }
    }
  }
}
