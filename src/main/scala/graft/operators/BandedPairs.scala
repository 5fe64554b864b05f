package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded-pair kernel every near-dup family runs on: MinHash and
  * SimHash text dedup, the persisted LSH index, fuzzy decontamination,
  * SRP embedding near-dup, and the image, audio and video perceptual
  * hashes. A family fingerprints its records, freezes the
  * fingerprints, and explodes each record into band-key rows (id, key
  * columns…). Candidates come from ONE equi-join on the key columns,
  * so the shuffle is on the key and the pair space is only what
  * collides; each family then scores its candidates exactly (ids
  * alone cross the join, so payloads re-attach after the distinct and
  * each pair ships once, not once per colliding band). Nothing
  * here is O(n²). The partition-then-verify split follows REPOSE
  * (ICDE 2021), which builds distributed similarity search on one
  * reusable kernel of this shape.
  */
private[graft] object BandedPairs {

  /** Rows of `a` and `b` (aliased "a" and "b") agreeing on every key
    * column and on `cond` — the one band equi-join.
    */
  private def matched(a: DataFrame, b: DataFrame, keys: Seq[String],
      cond: Column): DataFrame =
    a.as("a").join(b.as("b"),
      keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) && cond)

  /** Self form: distinct (id_a, id_b) with id_a < id_b for every two
    * rows of `keyed` that agree on all `keys`; a pair colliding in
    * several bands appears once. `carry` adds columns read from the
    * two sides (aliased "a" and "b") — the fingerprints the hamming
    * families verify on, kept through the distinct so no payload
    * re-join is needed.
    *
    * With `index` (the persisted-index probe: index rows number the
    * same id space), rows of `keyed` also pair with the index rows
    * they collide with, folded to id_a < id_b. A row never pairs with
    * an index row of its own id: a crash-retried batch may find its
    * own bands already appended. `carry` reads side "b" from the
    * index in those pairs. An absent index (`None`) means the batch
    * pairs only with itself.
    */
  def pairs(keyed: DataFrame, id: String, keys: Seq[String],
      carry: Seq[Column] = Nil, index: Option[DataFrame] = None): DataFrame = {
    val (a, b) = (col(s"a.$id"), col(s"b.$id"))
    val own = matched(keyed, keyed, keys, a < b)
      .select(Seq(a.as("id_a"), b.as("id_b")) ++ carry: _*)
    index.fold(own) { ix =>
      own.unionByName(matched(keyed, ix, keys, a =!= b)
        .select(Seq(least(a, b).as("id_a"), greatest(a, b).as("id_b")) ++ carry: _*))
    }.distinct()
  }

  /** Bipartite probe form: distinct (id_a, id_b) with id_a from
    * `probe` and id_b from `index` for every two rows agreeing on all
    * `keys`. The two sides may number different id spaces (corpus vs
    * eval set), so nothing is folded or excluded. Wrap a small index
    * in `broadcast` to keep the probe side unshuffled.
    */
  def probe(probe: DataFrame, index: DataFrame, id: String,
      keys: Seq[String]): DataFrame =
    matched(probe, index, keys, lit(true))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct()
}
