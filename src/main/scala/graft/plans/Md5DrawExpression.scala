package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftglue.GraftGlue
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's deterministic 52-bit uniform draw, fused:
  *
  *   md5_draw52(s) = the first 13 hex digits of md5(s) as a long
  *                 = conv(substring(md5(s), 1, 13), 16, 10) :: long
  *
  * BIT-IDENTICAL to the built-in chain (the first 13 hex digits are the
  * big-endian nibbles of the digest's first 6½ bytes), which is exactly
  * how every oracle recomputes it — q91's Poisson bootstrap and c14's
  * weighted sampler keep their DuckDB SQL unchanged.
  *
  * Why an Expression (guide §1.2 step 2, per-task work): the built-in
  * chain materializes a 32-char hex UTF8String per row (md5), slices it
  * (substring), and runs a radix-16 string parse plus a decimal-string
  * render (conv) — three codegen'd but allocation-heavy steps that cost
  * ~4.3 s of q91's 5.8 s at sf0.1 (measured: explode-only 0.77 s,
  * +md5 3.31 s, +conv 5.06 s). Here one digest over the raw UTF-8 bytes
  * feeds seven shift-or's; no hex string, no parse. MessageDigest reuse
  * follows the [[LinearScore]] discipline: ThreadLocal on the
  * interpreted path, per-generated-class mutable state under codegen.
  */
case class Md5Draw52(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "md5_draw52"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val md = LinearScore.localMd.get()
    md.reset()
    Md5Draw52.pack52(md.digest(input.asInstanceOf[UTF8String].getBytes))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val digest = ctx.addMutableState("java.security.MessageDigest", "md5",
        v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
                |catch (java.security.NoSuchAlgorithmException e) {
                |  throw new RuntimeException(e); }""".stripMargin)
      val h = ctx.freshName("h")
      // operators end the lines: Spark strips margins again when it
      // splices this code into its own templates, so no line may start
      // with `|`
      s"""
         |$digest.reset();
         |byte[] $h = $digest.digest($s.getBytes());
         |${ev.value} = (($h[0] & 0xFFL) << 44) | (($h[1] & 0xFFL) << 36) |
         |  (($h[2] & 0xFFL) << 28) | (($h[3] & 0xFFL) << 20) |
         |  (($h[4] & 0xFFL) << 12) | (($h[5] & 0xFFL) << 4) |
         |  (($h[6] & 0xF0L) >>> 4);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Draw52 {
  /** First 52 bits of a digest, big-endian — the 13 leading hex digits
    * read as one radix-16 number (what `conv(…, 16, 10)` parses). */
  private[plans] def pack52(h: Array[Byte]): Long =
    ((h(0) & 0xFFL) << 44) | ((h(1) & 0xFFL) << 36) |
    ((h(2) & 0xFFL) << 28) | ((h(3) & 0xFFL) << 20) |
    ((h(4) & 0xFFL) << 12) | ((h(5) & 0xFFL) << 4) |
    ((h(6) & 0xF0L) >>> 4)

  def md5Draw52(s: Column): Column =
    GraftGlue.column(Md5Draw52(GraftGlue.expression(s)))
}

/** [[Md5Draw52]] over a RENDERED key, fused one level further: the
  * draw-key idiom is `concat(cast(id as string), ':tag'[, cast(i as
  * string)])`, which materializes two decimal renders plus the
  * concatenated UTF8String per row before the digest ever runs. Here
  * each numeric part's digits are written into a per-class scratch
  * buffer and fed straight to the MessageDigest — no decimal
  * UTF8Strings, no concat buffer (guide §1.2 step 2, per-task work;
  * q91 pays this per drawn row × 33 replicates, c14 per corpus doc).
  *
  * BIT-IDENTICAL to `md5_draw52(concat(cast(p1 as string), p2, …))`:
  * the digit renderer matches Java `Long.toString` byte for byte
  * (negatives included — it folds through negative space so
  * Long.MinValue survives), string parts contribute their exact UTF-8
  * bytes, and the 52-bit pack is [[Md5Draw52.pack52]]. Oracles keep
  * recomputing the draw through the hex-string route (Md5DrawSpec
  * pins equality on the real key streams).
  *
  * NULL like `concat`: any null part nulls the draw. Parts must be
  * long, int or string. */
case class Md5DrawKey52(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "md5_draw52_key"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.nonEmpty && children.forall(c =>
        c.dataType == LongType || c.dataType == IntegerType ||
          c.dataType == StringType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects 1+ parts of long/int/string, got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : Any = {
    val n = children.length
    val vals = new Array[Any](n)
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null) return null
      vals(i) = v
      i += 1
    }
    val md = LinearScore.localMd.get()
    md.reset()
    val buf = Md5DrawKey52.localBuf.get()
    i = 0
    while (i < n) {
      children(i).dataType match {
        case StringType =>
          md.update(vals(i).asInstanceOf[UTF8String].getBytes)
        case IntegerType =>
          Md5DrawKey52.updateLong(md, buf, vals(i).asInstanceOf[Int].toLong)
        case _ =>
          Md5DrawKey52.updateLong(md, buf, vals(i).asInstanceOf[Long])
      }
      i += 1
    }
    Md5Draw52.pack52(md.digest())
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val digest = ctx.addMutableState("java.security.MessageDigest", "md5k",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) {
              |  throw new RuntimeException(e); }""".stripMargin)
    val buf = ctx.addMutableState("byte[]", "md5kbuf",
      v => s"$v = new byte[20];") // fits "-9223372036854775808"
    val evs = children.map(_.genCode(ctx))
    val h = ctx.freshName("h")
    val nullCond =
      if (!nullable) "false"
      else evs.map(e => e.isNull.toString).mkString(" || ")
    val updates = children.zip(evs).map { case (c, e) =>
      c.dataType match {
        case StringType => s"$digest.update(${e.value}.getBytes());"
        case _ =>
          val x = ctx.freshName("x")
          val p = ctx.freshName("p")
          val neg = ctx.freshName("neg")
          // digits rendered right-to-left in NEGATIVE space (so
          // Long.MIN_VALUE never overflows the sign flip) — byte-for-
          // byte Long.toString
          s"""long $x = (long) ${e.value};
             |boolean $neg = $x < 0;
             |if (!$neg) $x = -$x;
             |int $p = 20;
             |do { $buf[--$p] = (byte) ('0' - ($x % 10)); $x /= 10; }
             |while ($x != 0);
             |if ($neg) $buf[--$p] = (byte) '-';
             |$digest.update($buf, $p, 20 - $p);""".stripMargin
      }
    }.mkString("\n")
    val childCode = evs.map(_.code.toString).mkString("\n")
    // operators end the lines, as in Md5Draw52.doGenCode
    ev.copy(code =
      code"""
        |$childCode
        |boolean ${ev.isNull} = $nullCond;
        |long ${ev.value} = -1L;
        |if (!${ev.isNull}) {
        |  $digest.reset();
        |  $updates
        |  byte[] $h = $digest.digest();
        |  ${ev.value} = (($h[0] & 0xFFL) << 44) | (($h[1] & 0xFFL) << 36) |
        |    (($h[2] & 0xFFL) << 28) | (($h[3] & 0xFFL) << 20) |
        |    (($h[4] & 0xFFL) << 12) | (($h[5] & 0xFFL) << 4) |
        |    (($h[6] & 0xF0L) >>> 4);
        |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object Md5DrawKey52 {
  private[plans] val localBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](20)
  }

  /** Feed `Long.toString(v)`'s exact bytes to the digest via the
    * scratch buffer (interpreted path; codegen inlines the same loop). */
  private[plans] def updateLong(md: java.security.MessageDigest,
                                buf: Array[Byte], v: Long): Unit = {
    var x = if (v < 0) v else -v
    var p = 20
    while ({
      p -= 1
      buf(p) = ('0' - (x % 10)).toByte
      x /= 10
      x != 0
    }) ()
    if (v < 0) { p -= 1; buf(p) = '-'.toByte }
    md.update(buf, p, 20 - p)
  }

  /** The fused draw over rendered parts — each a long/int/string
    * Column; equals `md5Draw52(concat(parts casted to string…))`. */
  def md5DrawKey52(parts: Column*): Column =
    GraftGlue.column(Md5DrawKey52(parts.map(GraftGlue.expression)))
}
