package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** Row counts the medallion pipeline must produce from one generated input,
  * per layer and table. They follow from what the generator planted.
  */
final case class Expected(
    raw: Map[String, Long],
    rejected: Map[String, Long],
    silver: Map[String, Long],
    gold: Map[String, Long]) {
  def bronzeValid: Map[String, Long] = raw.map { case (t, n) => t -> (n - rejected(t)) }
}

/** Seeded Kaggle-Meta raw CSVs for `runner.MedallionPipeline`.
  *
  * For `users` = U the tables hold U users, 3U datasets, 1.5U tag rows,
  * U/2 kernels and U/100 + 10 competitions, plus planted rows:
  *  - contract-invalid rows under fresh ids (bronze must reject exactly
  *    these, ~2% per table, well under the 10% circuit breaker);
  *  - duplicate natural keys with older or newer timestamps (silver dedup
  *    keeps one row per key);
  *  - dangling foreign keys (datasets and kernels owned by unknown users,
  *    tags of unknown datasets, which silver drops).
  *
  * Duplicates keep every attribute that a gold aggregate groups by, so the
  * expected counts of every layer are exact functions of the seed.
  */
object RawGen {

  private val Countries = Array("US", "VN", "DE", "IN", "BR", "FR", "JP")
  private val Types = Array("tabular", "image", "text", "audio")
  private val Categories = Array("vision", "nlp", "tabular", "rl")
  private val TagVocab = 200

  private final class Csv(f: File, header: String) {
    private val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    w.write(header); w.write('\n')
    var rows = 0L
    def row(cells: String*): Unit = {
      w.write(cells.mkString(",")); w.write('\n'); rows += 1
    }
    def close(): Unit = w.close()
  }

  private def ts(day: Int, sec: Int): String = {
    val d = java.time.LocalDate.of(2015, 1, 1).plusDays(day.toLong)
    val s = sec % 86400
    f"$d ${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d"
  }

  /** Writes `<dir>/<table>.csv` for the five contracts. */
  def write(dir: File, seed: Long, users: Int): Expected = {
    dir.mkdirs()
    val r = new SplittableRandom(seed)
    val nUsers = users
    val nDatasets = 3 * users
    val nTagRows = users * 3 / 2
    val nKernels = users / 2
    val nComps = users / 100 + 10
    def dup(n: Int) = math.max(1, n / 20)
    def bad(n: Int) = math.max(1, n / 50)
    // ids at or above this never exist in any table: dangling references
    val ghost = 10L * (nDatasets + nUsers)
    val raw = mutable.Map.empty[String, Long]
    val rejected = mutable.Map.empty[String, Long]

    // users: Id, UserName, RegisterDate, Country
    val users_ = new Csv(new File(dir, "users.csv"), "Id,UserName,RegisterDate,Country")
    val signup = Array.fill(nUsers)(r.nextInt(3000))
    for (i <- 0 until nUsers) {
      val country = if (r.nextInt(20) == 0) "" else Countries(r.nextInt(Countries.length))
      users_.row(s"U$i", s"user_$i", ts(signup(i), r.nextInt(86400)), country)
    }
    for (_ <- 0 until dup(nUsers)) {
      val i = r.nextInt(nUsers)
      users_.row(s"U$i", s"user_$i", ts(math.max(0, signup(i) + r.nextInt(61) - 30),
        r.nextInt(86400)), Countries(r.nextInt(Countries.length)))
    }
    for (j <- 0 until bad(nUsers)) {
      val id = nUsers + j
      if (j % 2 == 0) users_.row(s"U$id", s"user_$id", ts(r.nextInt(3000), 0), "USA")
      else users_.row(s"U$id", "", ts(r.nextInt(3000), 0), "US")
    }
    users_.close()
    raw("users") = users_.rows; rejected("users") = bad(nUsers)

    // datasets: Id, Title, Subtitle, CreatorUserId, TotalViews,
    // TotalDownloads, CreationDate, LastUpdatedDate, Type, IsPrivate
    val ds = new Csv(new File(dir, "datasets.csv"),
      "Id,Title,Subtitle,CreatorUserId,TotalViews,TotalDownloads,CreationDate,LastUpdatedDate,Type,IsPrivate")
    val owner = Array.tabulate(nDatasets) { _ =>
      if (r.nextInt(100) == 0) ghost + r.nextInt(1000) else r.nextInt(nUsers).toLong
    }
    val created = Array.fill(nDatasets)(r.nextInt(3000))
    def dsRow(i: Int, updated: Int): Unit =
      ds.row(s"D$i", s"Dataset $i", if (i % 3 == 0) "" else s"sub $i", s"U${owner(i)}",
        r.nextInt(100000).toString, r.nextInt(5000).toString,
        ts(created(i), 3600), ts(updated, 7200), Types(i % Types.length),
        if (i % 2 == 0) "TRUE" else "FALSE")
    for (i <- 0 until nDatasets) dsRow(i, created(i) + r.nextInt(400))
    for (_ <- 0 until dup(nDatasets)) {
      val i = r.nextInt(nDatasets)
      dsRow(i, created(i) + r.nextInt(400))
    }
    for (j <- 0 until bad(nDatasets)) {
      val id = nDatasets + j
      val c = ts(1000, 0)
      j % 4 match {
        case 0 => ds.row(s"D$id", "t", "", "U1", "-5", "1", c, c, "tabular", "TRUE")
        case 1 => ds.row(s"D$id", "t", "", "U1", "5", "N/A", c, c, "tabular", "TRUE")
        case 2 => ds.row(s"D$id", "t", "", "U1", "5", "1", c, ts(900, 0), "tabular", "TRUE")
        case _ => ds.row(s"D$id", "", "", "U1", "5", "1", c, c, "tabular", "TRUE")
      }
    }
    ds.close()
    raw("datasets") = ds.rows; rejected("datasets") = bad(nDatasets)

    // competitions: Id, Title, Category, StartDate, Deadline, PrizeMoney
    val cs = new Csv(new File(dir, "competitions.csv"),
      "Id,Title,Category,StartDate,Deadline,PrizeMoney")
    val start = Array.fill(nComps)(r.nextInt(3650))
    for (i <- 0 until nComps)
      cs.row(s"C$i", s"Comp $i", Categories(i % Categories.length), ts(start(i), 0),
        ts(start(i) + 30 + r.nextInt(400), 0), (r.nextInt(1000) * 100).toString)
    for (_ <- 0 until dup(nComps)) {
      val i = r.nextInt(nComps)
      cs.row(s"C$i", s"Comp $i (renamed)", Categories(i % Categories.length),
        ts(start(i), 0), ts(start(i) + 30 + r.nextInt(400), 0), (r.nextInt(1000) * 100).toString)
    }
    for (j <- 0 until bad(nComps)) {
      val id = nComps + j
      if (j % 2 == 0) cs.row(s"C$id", "c", "nlp", ts(100, 0), ts(200, 0), "-100")
      else cs.row(s"C$id", "c", "nlp", ts(200, 0), ts(100, 0), "100")
    }
    cs.close()
    raw("competitions") = cs.rows; rejected("competitions") = bad(nComps)
    val years = start.map(d => java.time.LocalDate.of(2015, 1, 1).plusDays(d.toLong).getYear).toSet

    // tags: DatasetId, Tags (a JSON array; variants normalize to one tag)
    val tg = new Csv(new File(dir, "tags.csv"), "DatasetId,Tags")
    val pairs = mutable.HashSet.empty[Long]
    val usedTags = mutable.HashSet.empty[Int]
    def json(tags: Seq[String]): String =
      tags.map(t => "\"\"" + t + "\"\"").mkString("\"[", ",", "]\"")
    def variant(k: Int): String = r.nextInt(4) match {
      case 0 => s"Tag-$k"
      case 1 => s" tag-$k "
      case 2 => s"tag-$k!"
      case _ => s"tag-$k"
    }
    val written = mutable.ArrayBuffer.empty[(Long, Seq[String])]
    for (_ <- 0 until nTagRows) {
      val d = r.nextInt(nDatasets).toLong
      val ks = Seq.fill(1 + r.nextInt(3))(r.nextInt(TagVocab))
      val cells = ks.map(variant)
      tg.row(s"D$d", json(cells))
      written += ((d, cells))
      ks.foreach { k => pairs += d * TagVocab + k; usedTags += k }
    }
    for (_ <- 0 until dup(nTagRows)) {
      val (d, cells) = written(r.nextInt(written.size))
      tg.row(s"D$d", json(cells))
    }
    for (_ <- 0 until bad(nTagRows)) tg.row(s"D${ghost + r.nextInt(1000)}", json(Seq("ghost")))
    for (_ <- 0 until bad(nTagRows)) tg.row("", json(Seq("orphan")))
    tg.close()
    raw("tags") = tg.rows; rejected("tags") = bad(nTagRows)

    // kernels: Id, AuthorUserId, Title, CreationDate, LastUpdatedDate
    val kn = new Csv(new File(dir, "kernels.csv"),
      "Id,AuthorUserId,Title,CreationDate,LastUpdatedDate")
    val kCreated = Array.fill(nKernels)(r.nextInt(3000))
    def author(): String =
      if (r.nextInt(100) == 0) s"U${ghost + r.nextInt(1000)}" else s"U${r.nextInt(nUsers)}"
    for (i <- 0 until nKernels)
      kn.row(s"K$i", author(), s"Kernel $i", ts(kCreated(i), 0), ts(kCreated(i) + r.nextInt(90), 60))
    for (_ <- 0 until dup(nKernels)) {
      val i = r.nextInt(nKernels)
      kn.row(s"K$i", author(), s"Kernel $i", ts(kCreated(i), 0), ts(kCreated(i) + r.nextInt(90), 120))
    }
    for (j <- 0 until bad(nKernels)) {
      val id = nKernels + j
      if (j % 2 == 0) kn.row(s"K$id", "U1", "", ts(10, 0), ts(10, 0))
      else kn.row(s"K$id", "U1", "k", ts(10, 0), ts(9, 0))
    }
    kn.close()
    raw("kernels") = kn.rows; rejected("kernels") = bad(nKernels)

    val silver = Map(
      "users" -> nUsers.toLong, "datasets" -> nDatasets.toLong,
      "competitions" -> nComps.toLong, "tags" -> pairs.size.toLong,
      "kernels" -> nKernels.toLong)
    val nTags = usedTags.size.toLong
    val gold = Map(
      "dim_user" -> (nUsers + 1L), // plus the Unknown member
      "dim_date" -> java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.of(2015, 1, 1), java.time.LocalDate.of(2031, 1, 1)),
      "dim_dataset" -> nDatasets.toLong,
      "dim_competition" -> nComps.toLong,
      "dim_tag" -> nTags,
      "bridge_dataset_tag" -> pairs.size.toLong,
      "fact_competitions_yearly" -> years.size.toLong,
      "fact_tag_usage_daily" -> nTags,
      "fact_dataset_owner_daily" -> owner.distinct.length.toLong)
    Expected(raw.toMap, rejected.toMap, silver, gold)
  }
}
