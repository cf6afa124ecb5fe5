package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Small helpers shared by the workloads. */
object Common {

  /** Seconds taken by `body`, with its value. */
  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Materialize a stage boundary so that the lazy work behind `df` runs
    * inside the span of the layer that declared it.
    */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Canonical text of one value: dates ISO, doubles in integer
    * millionths (every generated price is a whole number of them), null
    * as N. The checker formats its expected rows the same way.
    */
  def canon(v: Any): String = v match {
    case null => "N"
    case d: Double => math.round(d * 1e6).toString
    case x => x.toString
  }

  /** Order-independent digest of a result: row count and the 64-bit sum
    * of the first eight MD5 bytes of each row's canonical text.
    */
  def digest(rows: Iterable[Seq[Any]]): Map[String, Any] = {
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      val h = md.digest(r.map(canon).mkString("|").getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    Map("rows" -> n, "digest" -> java.lang.Long.toUnsignedString(sum, 16))
  }

  def rowDigest(rows: Array[Row]): Map[String, Any] =
    digest(rows.map(_.toSeq))

  /** Bytes and data files under `root`, whatever the table layout. */
  def diskUsage(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return (0L, 0L)
    val walk = Files.walk(p)
    try {
      var bytes = 0L
      var files = 0L
      walk.filter(Files.isRegularFile(_)).forEach { f: Path =>
        bytes += Files.size(f)
        if (f.getFileName.toString.endsWith(".parquet")) files += 1
      }
      (bytes, files)
    } finally walk.close()
  }

  /** Machine-wide (steal, total) CPU jiffies from /proc/stat: the share
    * of CPU time the host took from this machine while a window ran.
    */
  def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    } finally f.close()
  }

  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    val line = try f.getLines().find(_.startsWith("VmHWM:"))
      .getOrElse("VmHWM: 0 kB") finally f.close()
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
  }
}
