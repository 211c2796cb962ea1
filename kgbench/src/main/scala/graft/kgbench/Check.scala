package graft.kgbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent summary of a triple set: row count plus two sums of
  * independently seeded 64-bit row hashes, summed exactly as decimals.
  * Two multisets with equal summaries are equal up to a hash collision; a
  * dropped, duplicated or altered row changes the count or both sums. The
  * gold set is duplicate-free, so an output with the gold's summary has no
  * duplicate triple either.
  */
final case class Summary(count: Long, h1: BigDecimal, h2: BigDecimal) {
  def json: String = s"""{"count":$count,"h1":"$h1","h2":"$h2"}"""
}

object Summary {
  private val Field = "\"(\\w+)\":\"?(-?[0-9]+)\"?".r
  def parse(s: String): Summary = {
    val m = Field.findAllMatchIn(s).map(x => x.group(1) -> x.group(2)).toMap
    Summary(m("count").toLong, BigDecimal(m("h1")), BigDecimal(m("h2")))
  }
}

object Check {
  val TripleCols: Seq[String] = Seq("subj", "pred", "obj", "conv_id", "turn_idx")

  def summarize(triples: DataFrame): Summary = {
    val cs = TripleCols.map(col)
    def hashSum(seed: Long) =
      coalesce(sum(xxhash64(lit(seed) +: cs: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))
    val r = triples.agg(count(lit(1)), hashSum(0x6b67L), hashSum(0x62656e6368L)).head()
    Summary(r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)))
  }

  /** None when `triples` matches `gold`; otherwise what differs. */
  def verify(triples: DataFrame, gold: Summary): Option[String] = {
    val got = summarize(triples)
    if (got == gold) None
    else Some(s"triples differ from gold: got count=${got.count} " +
      s"(gold ${gold.count}), checksums ${if (got.h1 == gold.h1 && got.h2 == gold.h2) "equal" else "differ"}")
  }

  /** The q48 conv-id mapping: a UUID-formatted md5 of the conv id. */
  val uuidOf: org.apache.spark.sql.Column = expr(
    "concat(substr(md5(conv_id),1,8),'-',substr(md5(conv_id),9,4)," +
      "'-',substr(md5(conv_id),13,4),'-',substr(md5(conv_id),17,4),'-'," +
      "substr(md5(conv_id),21,12))")
}
