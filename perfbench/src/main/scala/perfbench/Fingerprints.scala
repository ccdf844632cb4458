package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Expected outputs recorded at the commit that defined the benchmark:
  * `name<TAB>value...` lines, `#` comments. A `*` value is not checked.
  * A run only reads them; a mismatch prints the observed value. */
object Fingerprints {
  def load(p: Path): Map[String, IndexedSeq[String]] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split('\t'); f.head -> f.tail.toIndexedSeq }.toMap

  /** True when `got` matches `want` field by field, `*` matching anything. */
  def matches(want: Seq[String], got: Seq[String]): Boolean =
    want.size == got.size && want.zip(got).forall { case (w, g) => w == "*" || w == g }
}
