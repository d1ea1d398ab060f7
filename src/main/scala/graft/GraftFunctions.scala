package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ArgmaxCell, CappedStructList, CharEntropy, CosineSimilarity, DhashBits, DotProduct, HexWords, MinHashSig, MisraGries, MovingEnergy, NfcNormalize, OrderedPairs, PolyHash, RegexCount, SimHashWord, SquaredL2, TermCounts}

/** THE single place a native function is defined (VERDICT r17 #8): one
  * list of (identifier, info, builder) tuples consumed by BOTH wiring
  * routes —
  *
  *  - [[GraftExtensions]] injects each tuple via
  *    `SparkSessionExtensions.injectFunction` for sessions built with
  *    `spark.sql.extensions=graft.GraftExtensions` (the shared-cluster
  *    deployment shape);
  *  - [[registerAll]] registers the same tuples directly into an
  *    existing session's function registry (the embedded shape: every
  *    kernel that uses a native function calls it before building its
  *    plan).
  *
  * Both routes construct the same expression nodes from the same
  * builders, so plans and codegen are identical either way — and a new
  * native function added here is automatically on every path
  * (ExtensionsSmokeSpec plans the whole registry against a session wired
  * through this list alone). */
object GraftFunctions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def fn(name: String, usage: String, arity: Int,
                 builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name, usage), { args: Seq[Expression] =>
      require(args.length == arity, s"$name expects $arity argument(s)")
      builder(args)
    })

  /** All native functions, one tuple each. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("cosine_similarity",
      "cosine_similarity(a, b) - cosine similarity of two float/double arrays",
      2, args => CosineSimilarity(args.head, args(1))),
    fn("dot_product",
      "dot_product(a, b) - dot product of two float/double arrays",
      2, args => DotProduct(args.head, args(1))),
    fn("squared_l2",
      "squared_l2(a, b) - squared L2 distance of two float/double arrays",
      2, args => SquaredL2(args.head, args(1))),
    fn("poly_hash",
      "poly_hash(s) - 31-base polynomial rolling hash of a string mod 1e9+7",
      1, args => PolyHash(args.head)),
    fn("nfc_normalize",
      "nfc_normalize(s) - Unicode NFC (canonical composition) normalization",
      1, args => NfcNormalize(args.head)),
    fn("char_entropy",
      "char_entropy(s) - Shannon entropy (bits) over the string's Unicode code points",
      1, args => CharEntropy(args.head)),
    fn("regex_count",
      "regex_count(s, re) - non-overlapping Java-regex match count; equals size(regexp_extract_all(s, re, 0))",
      2, args => RegexCount(args.head, args(1))),
    fn("hex_words",
      "hex_words(h, width, n, signed) - n fixed-width hex words of h as array<int>; signed applies two's-complement at 4*width bits",
      4, args => HexWords(args.head, args(1), args(2), args(3))),
    fn("dhash_bits",
      "dhash_bits(arr, bits) - long with bit i set iff arr[i] > arr[i+1], i < min(bits, len)",
      2, args => DhashBits(args.head, args(1))),
    fn("moving_energy",
      "moving_energy(sm, window, frames) - moving-window sum of squares of an int array as array<bigint>",
      3, args => MovingEnergy(args.head, args(1), args(2))),
    fn("simhash_word",
      "simhash_word(shingles, word) - 60-bit SimHash of a string array; word picks the md5 hex slice (0 or 1)",
      2, args => SimHashWord(args.head, args(1))),
    fn("minhash_sig",
      "minhash_sig(shingles, k) - k-hash MinHash signature (array<bigint>) of a string array",
      2, args => MinHashSig(args.head, args(1))),
    fn("term_counts",
      "term_counts(arr) - per-row distinct-term occurrence counts: array<struct<term string, tf bigint>>, terms ascending",
      1, args => TermCounts(args.head)),
    fn("argmax_cell",
      "argmax_cell(ed, ids, centroids) - id of the max-cosine centroid (6dp rounding, ties to lowest id); ids/centroids must be foldable literals",
      3, args => ArgmaxCell(args.head, args(1), args(2))),
    fn("ordered_pairs",
      "ordered_pairs(xs) - the C(n,2) (i < j) element pairs of an array as array<struct<a, b>>, (i asc, j asc)",
      1, args => OrderedPairs(args.head)),
    (FunctionIdentifier("misra_gries"),
      info("misra_gries",
        "misra_gries(col, k) - mergeable Misra-Gries heavy-hitters sketch (term -> estimate map)"),
      MisraGries.builder),
    (FunctionIdentifier("capped_list"),
      info("capped_list",
        "capped_list(struct, cap) - the group's structs as an array, or NULL when the group has more than cap rows"),
      CappedStructList.builder))

  /** Registers every native function into `spark`'s own registry.
    * Idempotent and silent: `all` holds the same (info, builder)
    * instances on every call, and the registry only warns when a name is
    * re-bound to a different pair. */
  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
