package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector primitives over `array<float>` embedding columns.
  *
  * All arithmetic is promoted to DOUBLE and accumulated strictly
  * left-to-right (`aggregate` ≡ foldLeft), which makes results bit-equal to
  * any engine that does the same sequential fold — the property the DuckDB
  * oracle comparison relies on. float→double promotion is exact, so there is
  * no precision loss reading float32 embeddings.
  *
  * These are higher-order Catalyst expressions (no UDF, no ser/de);
  * `plans.CosineSimilarity` is the codegen'd native-Expression upgrade for
  * the hot brute-force path.
  */
object VectorFunctions {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))
}
