package graft

import graft.urls.Urls
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import GenHelper.samples

/** Canonicalizer unit + property tests (SURVEY §5.2 #4). The canonical form
  * feeds xxhash64 URL-seen keys, so idempotence and spelling-collapse are
  * identity-critical.
  */
class UrlsSpec extends AnyFunSuite {

  test("relative URL resolves against the base origin (scraper.py:109-110)") {
    assert(Urls.canonicalize("/people/f3", "https://cs.stanford.edu/people/faculty")
      === "https://cs.stanford.edu/people/f3")
    assert(Urls.canonicalize("people/f3", "https://cs.stanford.edu/x")
      === "https://cs.stanford.edu/people/f3")
  }

  test("absolute URLs pass through with normalization") {
    assert(Urls.canonicalize("HTTPS://CS.Stanford.EDU:443/a/b#frag", "https://x.com")
      === "https://cs.stanford.edu/a/b")
    assert(Urls.canonicalize("http://h.com:80/", "https://x.com") === "http://h.com/")
    assert(Urls.canonicalize("http://h.com:8080/p", "https://x.com")
      === "http://h.com:8080/p")
  }

  test("dot segments collapse; query survives; fragment dropped") {
    assert(Urls.canonicalize("https://h.com/a/b/../c/./d?x=1#y", "https://x.com")
      === "https://h.com/a/c/d?x=1")
    assert(Urls.canonicalize("https://h.com/../..", "https://x.com") === "https://h.com/")
  }

  test("scheme-relative URL adopts base scheme") {
    assert(Urls.canonicalize("//cdn.h.com/i.png", "https://x.com/p") ===
      "https://cdn.h.com/i.png")
  }

  test("hostOf / originOf") {
    assert(Urls.hostOf("https://A.B.com:8443/x?q#f") === "a.b.com")
    assert(Urls.originOf("https://A.B.com/x") === "https://a.b.com")
    assert(Urls.hostOf("not a url") === "")
  }

  private val genPath = for {
    segs <- Gen.listOfN(3, Gen.oneOf("people", "f1", "a", "..", ".", "x%20y"))
    q    <- Gen.oneOf("", "?a=1", "?b=2&c=3")
    f    <- Gen.oneOf("", "#frag")
  } yield "/" + segs.mkString("/") + q + f

  private val genUrl = for {
    scheme <- Gen.oneOf("http", "https", "HTTP", "Https")
    host   <- Gen.oneOf("cs.u1.edu", "EE.U2.edu", "a.b.C.com")
    port   <- Gen.oneOf("", ":80", ":443", ":8080")
    path   <- genPath
  } yield s"$scheme://$host$port$path"

  test("property: canonicalize is idempotent (200 generated URLs)") {
    samples(genUrl, 200).foreach { u =>
      val once = Urls.canonicalize(u, "https://base.com")
      assert(Urls.canonicalize(once, "https://base.com") === once, s"input: $u")
    }
  }

  test("property: spelling variants of one page collapse to one canonical URL") {
    Seq("https://h.com/p/1", "HTTPS://H.COM/p/1", "https://h.com:443/p/1",
      "https://h.com/p/1#x", "https://h.com/a/../p/1").foreach { u =>
      assert(Urls.canonicalize(u, "https://h.com") === "https://h.com/p/1")
    }
  }

  test("urlHash64 agrees with Spark's xxhash64 expression") {
    val spark = TestSpark.spark
    import spark.implicits._
    // non-ASCII: the driver must hash the UTF-8 bytes, as Spark does
    val urls = Seq("https://cs.u0.edu/people/faculty", "https://h.com/p/1", "",
      "https://a.edu/people/café", "https://b.edu/教員/山田")
    val got = urls.toDF("u")
      .selectExpr("xxhash64(u)").collect().map(_.getLong(0)).toSeq
    assert(got === urls.map(Urls.urlHash64))
  }
}
