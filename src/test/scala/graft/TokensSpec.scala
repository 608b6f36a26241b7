package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.server.Tokens

/** Known-answer vectors for the server's signing and id primitives: the
  * URLs, file ids and checksums they produce must stay byte-identical
  * however they are computed.
  */
class TokensSpec extends AnyFunSuite {

  test("hmac: RFC 4231 test case 2") {
    assert(Tokens.hmac("Jefe".getBytes(UTF_8), "what do ya want for nothing?") ===
      "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
  }

  test("hmac: keyed per secret, stable across threads") {
    def reference(secret: Array[Byte], msg: String): String = {
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(secret, "HmacSHA256"))
      mac.doFinal(msg.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString
    }
    val secrets = Seq("s1", "s2").map(_.getBytes(UTF_8)) :+ Array.fill[Byte](64)(7)
    val failures = new java.util.concurrent.atomic.AtomicInteger
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until 200).foreach { i =>
        val s = secrets((i + t) % secrets.size)
        val msg = s"/table/part-$i.parquet@${1700000000000L + t}"
        if (Tokens.hmac(s, msg) != reference(s, msg)) failures.incrementAndGet()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.get === 0)
  }

  test("fileId: MD5 for the parquet scheme, SHA-256 for the delta scheme") {
    val (table, rel) = ("/data/tables/t1", "ds=2026-01-01/part-00000.parquet")
    assert(Tokens.fileId(table, rel) === "4191888eefc36d689e6789266c6931c5")
    assert(Tokens.fileId(table, rel, "delta") ===
      "376f2d756cb64e149cf0858ac5a4eb721aa7f1c56ad6c1378e7e56982967de3b")
  }

  test("checksum: SHA-256 over length-prefixed fields") {
    assert(Tokens.checksum(Seq("abc", "def")) ===
      "49086ee6319684e832e0a6182c2cc1d4e4c7867db56cefc2197dc2f36f08981f")
  }
}
