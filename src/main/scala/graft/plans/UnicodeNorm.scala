package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** Compiled Unicode NFC normalization (q216's kernel). Spark has no
  * built-in normalizer expression; the alternative would be a Scala
  * UDF (no codegen, ser/de per row) — `graft_nfc` calls this from
  * generated code, so it rides inside whole-stage codegen like any
  * built-in. Java's `java.text.Normalizer` implements the same Unicode
  * NFC as DuckDB's `nfc_normalize`, so the oracle replays it exactly.
  */
object UnicodeNormMath {
  def nfc(text: UTF8String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(text.toString,
        java.text.Normalizer.Form.NFC))
}
