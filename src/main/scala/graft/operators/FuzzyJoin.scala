package graft.operators

import graft.{KeySpec, QFn, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy (edit-distance) ENTITY-RESOLUTION join — the record-linkage
  * primitive the registry's join family lacked: find all pairs of
  * records whose string keys are within Levenshtein distance 1,
  * WITHOUT the n² cross product.
  *
  * The blocking scheme is the symmetric-delete neighborhood (the
  * public SymSpell / FastSS construction): each name generates
  * itself plus every single-character-deletion variant, and two
  * names with lev(s,t) ≤ 1 are GUARANTEED to share a variant —
  *   - s = t: the identity variants match;
  *   - substitution at i: both names' deletion-of-i variants match;
  *   - insertion/deletion: the longer name's deletion of the
  *     inserted character IS the shorter name's identity variant.
  * So the candidate set from the variant equi-join has NO false
  * negatives at threshold 1; false positives (names sharing a
  * deletion but distance 2 — e.g. swaps) are removed by the exact
  * `levenshtein` post-filter on the candidate pairs only.
  *
  * 100 TB shape: variant generation is a per-row projection (row →
  * ≤ len+1 rows of (id, name, 17-char variant)), the join is a hash
  * equi-join on the variant string, and a variant's bucket is
  * bounded by its possible parents — ≤ (len+1)·|alphabet| names can
  * produce a given variant — so per-bucket pair enumeration is O(1)
  * per bucket and the whole plan is linear in the corpus with no
  * skew cliff (FuzzyJoinSpec's scale probe drives this kernel over
  * 120k distinct synthetic names and asserts the bucket bound).
  * Higher thresholds use k-deletion neighborhoods (same join, more
  * variants); threshold 1 is the shipped contract. Inputs here are
  * ASCII; non-BMP inputs would additionally need the code-point
  * caveats the unigram module documents.
  */
object FuzzyJoin {

  /** All pairs (a.id < b.id) from `df` (columns `id`, `name`) with
    * levenshtein(a.name, b.name) ≤ 1, via the deletion-neighborhood
    * equi-join. Factored so the spec's scale probe drives the exact
    * production path over synthetic frames. */
  def fuzzyPairs(df: DataFrame): DataFrame = {
    val vars = variantsOf(df)
    vars.select(col("id").as("a_id"), col("name").as("a_name"), col("v"))
      .join(vars.select(col("id").as("b_id"), col("name").as("b_name"),
        col("v")), Seq("v"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "a_name", "b_id", "b_name")
      .distinct()
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= 1)
      .orderBy("a_id", "b_id")
  }

  /** The deletion neighborhood of each row: the name itself (i is the
    * 1-based deletion position; position 0 = identity) plus every
    * single-deletion variant — substr/length are code-point based in
    * Spark SQL, matching DuckDB's len/substr convention. array_union
    * dedups variants (deleting either of two adjacent equal chars
    * yields the same string) so a pair can't enter the candidate set
    * twice from one bucket. Exposed for the spec's bucket-bound probe. */
  def variantsOf(df: DataFrame): DataFrame = {
    val delVariants = transform(
      sequence(lit(1), length(col("name"))),
      i => concat(col("name").substr(lit(1), i - lit(1)),
        col("name").substr(i + lit(1), length(col("name")) - i)))
    df.select(col("id"), col("name"),
      explode(array_union(array(col("name")), delVariants)).as("v"))
  }

  /** Resolve near-duplicate customer identities within the BUILDING
    * market segment (names differing by one edit). The segment
    * filter keeps the brute-force oracle's pair count sane; the
    * Spark plan is segment-size-independent by construction. */
  val joinFuzzyBlocked: QFn = (s, d) =>
    fuzzyPairs(Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("id"), col("c_name").as("name")))

  /** The oracle is the INDEPENDENT brute-force formulation — every
    * pair checked directly with levenshtein — so the neighborhood
    * blocking's no-false-negative guarantee is verified against
    * exhaustive search, not replayed. */
  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("join_fuzzy_blocked", joinFuzzyBlocked,
      // pair distinct + presentation sort; at the audit scale the
      // variant self-join is a broadcast hash join
      shuffles = 2,
      """SELECT a.c_custkey AS a_id, a.c_name AS a_name,
                b.c_custkey AS b_id, b.c_name AS b_name,
                CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
         FROM customer a JOIN customer b
           ON a.c_custkey < b.c_custkey
          AND a.c_mktsegment = 'BUILDING' AND b.c_mktsegment = 'BUILDING'
          AND levenshtein(a.c_name, b.c_name) <= 1
         ORDER BY a_id, b_id"""))
}
