package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.concurrent.{Signaler, ThreadSignaler}
import org.scalatest.concurrent.TimeLimits.failAfter
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.html.{Arena, Boilerplate, HtmlDom}
import graft.pipeline.SpanExtract

class HtmlDomSpec extends AnyFunSuite {
  test("basic tree, attributes, entities, self-closing, comments") {
    val dom = HtmlDom.parse(
      """<html><head><title>T &amp; U</title><meta name="a" content='b&#65;' /></head>
        |<body><!-- c --><div class="x y">hi<br>there</div></body></html>""".stripMargin)
    val html = dom.children.find(_.isElem("html")).get
    val head = html.children.find(_.isElem("head")).get
    val title = head.children.find(_.isElem("title")).get
    assert(title.children.head.data == "T & U")
    val meta = head.children.find(_.isElem("meta")).get
    assert(meta.attr("content") == "bA")
    val body = html.children.find(_.isElem("body")).get
    val div = body.children.find(_.isElem("div")).get
    assert(div.attr("class") == "x y")
    assert(div.children.count(_.nodeType == HtmlDom.TextNode) == 2)
  }

  test("script/style content is raw text; mismatched tags tolerated") {
    val dom = HtmlDom.parse("<div><script>if (a<b) x();</script><p>ok</div></p>")
    val div = dom.children.head
    val script = div.children.find(_.isElem("script")).get
    assert(script.children.head.data == "if (a<b) x();")
    assert(div.children.exists(_.isElem("p")))
  }

  test("uppercase tags/attrs lowercased; unquoted attr values") {
    val dom = HtmlDom.parse("<DIV CLASS=foo>x</DIV>")
    assert(dom.children.head.data == "div")
    assert(dom.children.head.attr("class") == "foo")
  }
}

class BoilerplateSpec extends AnyFunSuite {
  val page: String =
    """<html><head><title>t</title><style>.x{}</style><script>var a=1;</script></head>
      |<body>
      |<nav><a href="/">Home</a> <a href="/p">Products</a></nav>
      |<header><h1>The Article Title</h1></header>
      |<div id="main">
      |  <p>This is the first real paragraph of the article with plenty of prose.</p>
      |  <p>Short.</p>
      |  <p>A second real paragraph, also containing enough text to be kept here.</p>
      |  <div class="share"><a href="/s1">Share</a> <a href="/s2">Tweet</a> <a href="/s3">Pin</a></div>
      |</div>
      |<aside><a href="/r1">Related one</a> <a href="/r2">Related two</a></aside>
      |<footer>Copyright 2026 <a href="/tos">Terms</a></footer>
      |</body></html>""".stripMargin

  test("keeps prose, drops nav/aside/footer/link-farms/short blocks") {
    val out = Boilerplate.extractMainText(page)
    val lines = out.split('\n').toSeq
    assert(lines == Seq(
      "The Article Title",
      "This is the first real paragraph of the article with plenty of prose.",
      "A second real paragraph, also containing enough text to be kept here."))
  }

  test("heading kept only when link-free; empty input -> empty output") {
    assert(Boilerplate.extractMainText("<h2><a href='/'>linked title</a></h2>") == "")
    assert(Boilerplate.extractMainText("<h2>Plain title</h2>") == "Plain title")
    assert(Boilerplate.extractMainText("") == "")
    assert(Boilerplate.extractMainText("plain text without markup but long enough to keep around here") ==
      "plain text without markup but long enough to keep around here")
  }

  test("deterministic: same input -> same output") {
    val a = Boilerplate.extractMainText(page)
    assert((1 to 5).forall(_ => Boilerplate.extractMainText(page) == a))
  }

  test("100k nested <div> on a 1 MiB-stack thread: no StackOverflowError, paragraph kept") {
    // a Spark task thread has the JVM default 1 MiB stack; the walk must
    // not spend it per nesting level, through either entry
    val para = Seq.fill(20)("word").mkString(" ") + "!"
    assert(para.length == 100)
    val html = "<div>" * 100000 + s"<p>$para</p>" + "</div>" * 100000
    Seq[() => String](
      () => Boilerplate.extractMainText(html),
      () => SpanExtract.extractSpanText("html", UTF8String.fromString(html), null, new Arena).toString
    ).foreach(kernel => assert(onSmallStack(kernel()) == para))
  }

  private def onSmallStack(f: => String): String = {
    val result = new AtomicReference[Either[Throwable, String]]()
    val t = new Thread(null, () =>
      result.set(try Right(f) catch { case e: Throwable => Left(e) }),
      "deep-html", 1L << 20)
    implicit val signaler: Signaler = ThreadSignaler
    failAfter(Span(10, Seconds)) {
      t.start()
      t.join()
    }
    result.get match {
      case Left(e) => fail(s"extractMainText threw $e")
      case Right(out) => out
    }
  }
}
