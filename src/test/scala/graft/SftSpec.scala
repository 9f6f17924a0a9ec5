package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bpe, Sft}

/** The loss-mask boundary claim behind Sft.lossStart: the rendered
  * prefix's id stream is a STRICT PREFIX of the rendered document's id
  * stream (a pretoken never crosses the prefix/response junction, and
  * merges never cross pretokens) — so masking input_ids[0, loss_start)
  * masks exactly the prompt. */
class SftSpec extends AnyFunSuite {

  lazy val spark = Sessions.local()
  import spark.implicits._

  test("encodeIds(prefix) is a strict prefix of encodeIds(rendered) " +
      "for adversarial prompts/responses (punctuation runs, digits, " +
      "multi-space, unicode)") {
    val pairs = Seq(
      (1L, "what is 2+2?", "4, obviously."),
      (2L, "summarize:  x", "x."),
      (3L, "weird>>> tail", "<<<response"),
      (4L, "ünïcode prompt", "ünïcode response"),
      (5L, "a", "b"),
      (6L, "trailing space ", " leading space"))
      .toDF("doc_id", "prompt", "response")
      .withColumn("rendered", Sft.render(col("prompt"), col("response")))
    val merges = Bpe.fit(pairs, "rendered", 12, minCount = 1L,
      byteLevel = true)
    val rows = pairs.select(
        Bpe.encodeIdsCol(Sft.renderPrefix(col("prompt")), merges)
          .as("pre"),
        Bpe.encodeIdsCol(col("rendered"), merges).as("full"),
        Sft.lossStart(col("prompt"), merges).as("ls"))
      .collect()
    rows.foreach { r =>
      val pre = r.getSeq[Int](0)
      val full = r.getSeq[Int](1)
      val ls = r.getInt(2)
      assert(ls == pre.length)
      assert(ls < full.length, "response must contribute tokens")
      assert(full.take(ls) == pre,
        s"prefix ids diverge: pre=$pre full=${full.take(ls)}")
      // the boundary is exactly where the response's ids begin: decode
      // of the tail reconstructs " response" byte-exactly
    }
    // decode of the full stream is lossless (the byte-BPE contract),
    // so the masked/unmasked split loses nothing
    val dec = pairs.select(col("rendered"),
      Bpe.decodeIdsCol(Bpe.encodeIdsCol(col("rendered"), merges), merges)
        .as("back")).collect()
    dec.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("with reserved special tokens the tags are single ids, the " +
      "boundary stays exact, and tag-containing prompts cannot fake " +
      "a boundary") {
    val sp = Sft.Specials
    val pairs = Seq(
      (1L, "what is 2+2?", "4, obviously."),
      // adversarial: the literal tag string INSIDE prompt/response —
      // under specials it still maps to the reserved id, and the
      // strict-prefix property holds regardless
      (2L, "echo <|assistant|> now", "<|user|> echoed"),
      (3L, "ünïcode prompt", "ünïcode response"),
      (4L, "a", "b"))
      .toDF("doc_id", "prompt", "response")
      .withColumn("rendered", Sft.render(col("prompt"), col("response")))
    val merges = Bpe.fit(pairs, "rendered", 12, minCount = 1L,
      byteLevel = true, specials = sp)
    val base = 256 + merges.size
    val rows = pairs.select(
        Bpe.encodeIdsCol(Sft.renderPrefix(col("prompt")), merges, sp)
          .as("pre"),
        Bpe.encodeIdsCol(col("rendered"), merges, sp).as("full"),
        Sft.lossStart(col("prompt"), merges, sp).as("ls"),
        Bpe.decodeIdsCol(Bpe.encodeIdsCol(col("rendered"), merges, sp),
          merges, sp).as("back"),
        col("rendered")).collect()
    rows.foreach { r =>
      val pre = r.getSeq[Int](0)
      val full = r.getSeq[Int](1)
      val ls = r.getInt(2)
      assert(ls == pre.length)
      assert(full.take(ls) == pre)
      // the rendered stream starts with the user tag's RESERVED id and
      // the prefix ends with the assistant tag's
      assert(full.head == base && pre.last == base + 1)
      // lossless with specials present
      assert(r.getString(4) == r.getString(3))
    }
    // the adversarial pair's in-text tags are reserved ids too — but
    // the REAL boundary (position ls-1) is still the prefix-final
    // assistant id, not the echoed one
    val adv = rows(1)
    assert(adv.getSeq[Int](1).count(_ == base + 1) == 2,
      "both assistant-tag occurrences must be the reserved id")
  }

  test("the `sft` statement require-fails on pre-existing output " +
      "columns instead of silently overwriting them") {
    val pairs = Seq((1L, "p", "r")).toDF("doc_id", "prompt", "response")
    for (c <- Seq("rendered", "token_ids", "loss_start", "n_ids")) {
      val e = intercept[IllegalArgumentException] {
        graft.hb.Graft.runHb("index rows by doc_id\nsft prompt response 4",
          pairs.withColumn(c, lit("x")))
      }
      assert(e.getMessage.contains(c), e.getMessage)
    }
  }
}
