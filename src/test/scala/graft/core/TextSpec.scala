package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

class TextSpec extends AnyFunSuite {
  import Text._

  test("tokenize basics") {
    assert(tokenize("Hello, World!").sameElements(Array("hello", "world")))
    assert(tokenize("  A  B\t C ").sameElements(Array("a", "b", "c")))
    assert(tokenize("123 Main St.").sameElements(Array("123", "main", "st")))
    assert(tokenize("").isEmpty)
    assert(tokenize(null).isEmpty)
  }

  test("tokenize is idempotent through normalize") {
    val inputs = Seq("Foo-Bar Baz", "a,b,,c", "ÜBER straße", "x1 y2 z3")
    inputs.foreach { s =>
      val once = normalize(s)
      assert(normalize(once) == once)
    }
  }

  test("token rules fold abbreviations") {
    assert(phraseForm("Main Street") == "main st")
    assert(phraseForm("North  Avenue") == "n ave")
    assert(phraseForm("spark") == "spark")
  }

  test("extractText: frozen golden cases") {
    def x(h: String): String = extractText(h.getBytes(UTF_8))
    assert(x("<html><body><p>hello</p><p>world</p></body></html>") == "hello\nworld")
    assert(x("<b>bold</b> text") == "bold text")
    assert(x("<script>var x = '<p>no</p>';</script>yes") == "yes")
    assert(x("<style>p { color: red }</style>visible") == "visible")
    assert(x("a &amp; b &lt;c&gt; &quot;d&quot;") == "a & b <c> \"d\"")
    assert(x("x &#65; y &#x42; z") == "x A y B z")
    assert(x("a   b\t\tc") == "a b c")
    assert(x("<div>a</div><div></div><div>b</div>") == "a\nb")
    assert(x("  <p>  padded  </p>  ") == "padded")
    assert(x("<ul><li>one</li><li>two</li></ul>") == "one\ntwo")
    assert(x("<title>T</title><h1>H</h1>body") == "T\nH\nbody")
    assert(x("br<br/>break") == "br\nbreak")
    assert(x("&bogus; stays") == "&bogus; stays")
    assert(x("trailing &") == "trailing &")
  }

  test("extractText: nested and unclosed tags") {
    def x(h: String): String = extractText(h.getBytes(UTF_8))
    assert(x("<div><span>a<b>b</b></span>c</div>") == "abc")
    assert(x("<p>unclosed") == "unclosed")
    assert(x("<SCRIPT>hidden</SCRIPT>shown") == "shown")
  }

  test("extractText is byte-stable (idempotent encode)") {
    val html = "<html><title>Tïtle</title><p>ünïcode &amp; more</p></html>".getBytes(UTF_8)
    val a = extractText(html)
    val b = extractText(html)
    assert(a == b && a == "Tïtle\nünïcode & more")
  }

  test("indexablePhrases splits synonyms and canonicalizes") {
    val p = indexablePhrases("Main Street, The Main St")
    assert(p.toSet == Set("main st", "the main st"))
  }

  test("prefixPhrases") {
    assert(prefixPhrases("a b c").sameElements(Array("a", "a b", "a b c")))
  }
}
