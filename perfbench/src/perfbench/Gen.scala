package perfbench

import scala.collection.mutable
import scala.util.Random

final case class Cust(id: Long, first: String, last: String, email: String, phone: String) {
  def line: String = s"$id,$first,$last,$email,$phone"
}

/** Seeded input generation and the expected-state models the outputs are
  * checked against. The models restate the pipeline's contract directly
  * (CSV validation rules, row-at-a-time UNIQUE(id)/UNIQUE(email) inserts,
  * last-write-wins upserts on email) and share no code with the program.
  */
object Gen {
  val Header = "id,first_name,last_name,email,phone"

  private val Firsts = IndexedSeq("Ada", "Bo", "Cy", "Dee", "Eli", "Fay", "Gus", "Hal", "Ivy", "Jo")
  private val Lasts = IndexedSeq("Kim", "Lee", "Moe", "Nash", "Orr", "Pike", "Quon", "Ray", "Sol")

  def person(rnd: Random, id: Long, email: String): Cust =
    Cust(id, Firsts(rnd.nextInt(Firsts.size)) + rnd.nextInt(100),
      Lasts(rnd.nextInt(Lasts.size)), email, f"555-${rnd.nextInt(10000)}%04d")

  /** What the ingest validation makes of one data line: a customer, or
    * the quarantine reason (`malformed_csv`, `bad_id`, `empty_email`).
    */
  def classify(line: String): Either[String, Cust] = {
    val f = line.split(",", -1)
    if (f.length != 5) Left("malformed_csv")
    else if (!f(0).matches("[+-]?[0-9]{1,18}")) Left("bad_id")
    else if (f(3).trim.isEmpty) Left("empty_email")
    else Right(Cust(f(0).toLong, f(1), f(2), f(3), f(4)))
  }

  /** Fresh ids and emails drawn from one counter, so every fresh customer
    * is distinct; anomalies are planted against it.
    */
  final class Ids(seed: Long, start: Long) {
    private var n = start
    def next(): (Long, String) = { n += 1; (n, s"u$n.s$seed@mail.example") }
  }

  /** One landing file for the ingest path: fresh customers plus planted
    * bad ids, empty emails, malformed lines, in-file duplicate ids and
    * emails, and resends of lines from earlier files.
    */
  def ingestFile(rnd: Random, ids: Ids, rows: Int, earlier: IndexedSeq[String]): IndexedSeq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val good = mutable.ArrayBuffer[Cust]()
    while (out.length < rows) {
      val k = rnd.nextInt(1000)
      val (id, email) = ids.next()
      val c = person(rnd, id, email)
      if (k < 10) out += c.line.replaceFirst("^[0-9]+", if (k % 2 == 0) s"x$id" else "")
      else if (k < 20) out += c.copy(email = "").line
      else if (k < 25) out += (if (k % 2 == 0) c.line + ",extra,fields" else s"$id,${c.first},${c.last}")
      else if (k < 35 && good.nonEmpty) out += c.copy(id = good(rnd.nextInt(good.size)).id).line
      else if (k < 45 && good.nonEmpty) out += c.copy(email = good(rnd.nextInt(good.size)).email).line
      else if (k < 65 && earlier.nonEmpty) out += earlier(rnd.nextInt(earlier.size))
      else { out += c.line; good += c }
    }
    out.toIndexedSeq
  }

  /** Row-at-a-time reference semantics of the ingest service: a valid row
    * is inserted iff neither its id nor its email is already present.
    */
  final class InsertModel {
    val rows: mutable.LinkedHashMap[String, Cust] = mutable.LinkedHashMap()
    private val ids = mutable.HashSet[Long]()
    val quarantined: mutable.Map[String, Long] = mutable.Map().withDefaultValue(0L)

    /** Applies one file; returns how many rows it inserts. */
    def ingest(lines: Seq[String]): Long = {
      var n = 0L
      lines.foreach { l =>
        classify(l) match {
          case Left(reason) => quarantined(reason) += 1
          case Right(c) =>
            if (!ids.contains(c.id) && !rows.contains(c.email)) {
              rows(c.email) = c; ids += c.id; n += 1
            }
        }
      }
      n
    }
  }

  /** Upsert semantics of the change path: per email the last valid row of
    * the batch wins; a matched email takes the new payload and keeps its
    * id; an unmatched one inserts unless its id is taken by a stored row
    * or by an earlier insert of the same batch.
    */
  final class UpsertModel(base: Iterable[Cust]) {
    val rows: mutable.LinkedHashMap[String, Cust] = mutable.LinkedHashMap()
    base.foreach(c => rows(c.email) = c)

    /** Applies one change file; returns the number of valid change rows. */
    def merge(lines: Seq[String]): Long = {
      val valid = lines.flatMap(l => classify(l).toOption)
      val latest = valid.zipWithIndex.groupBy(_._1.email).values.map(_.maxBy(_._2)).toSeq.sortBy(_._2)
      val storedIds = rows.values.map(_.id).toSet
      val claimed = mutable.HashSet[Long]()
      latest.foreach { case (c, _) =>
        rows.get(c.email) match {
          case Some(old) => rows(c.email) = c.copy(id = old.id)
          case None =>
            if (!storedIds.contains(c.id) && !claimed.contains(c.id)) {
              rows(c.email) = c; claimed += c.id
            }
        }
      }
      valid.size
    }

    def delete(emails: Seq[String]): Unit = emails.foreach(rows.remove)

    def snapshot(emails: Seq[String]): Set[Cust] = emails.flatMap(rows.get).toSet

    def idRange(lo: Long, hi: Long): Set[Cust] =
      rows.values.filter(c => c.id >= lo && c.id <= hi).toSet
  }

  /** One change file: revisions and unchanged resends of live customers,
    * new customers, in-file repeats of an email (the last one wins), new
    * emails reusing a live id (dropped), and invalid lines.
    */
  def changeFile(rnd: Random, ids: Ids, rows: Int, live: IndexedSeq[Cust]): IndexedSeq[String] = {
    val out = mutable.ArrayBuffer[String]()
    while (out.length < rows) {
      val k = rnd.nextInt(100)
      val old = live(rnd.nextInt(live.size))
      val (id, email) = ids.next()
      if (k < 40) out += person(rnd, old.id, old.email).line
      else if (k < 55) out += old.line
      else if (k < 85) out += person(rnd, id, email).line
      else if (k < 90 && out.nonEmpty) {
        val prev = classify(out(rnd.nextInt(out.size))).toOption
        out += prev.map(p => person(rnd, p.id, p.email)).getOrElse(person(rnd, id, email)).line
      }
      else if (k < 95) out += person(rnd, old.id, email).line
      else out += (if (k % 2 == 0) s"x$id,A,B,$email,555" else s"$id,A,B,,555")
    }
    out.toIndexedSeq
  }

  def csv(lines: Seq[String]): String = (Header +: lines).mkString("", "\n", "\n")
}
