package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

/** Ground truth of a generated ledger: the domain events the pipeline must
  * store and publish, by `eventType`, plus the lines that must not become
  * stored events.
  */
final class Truth {
  val expected: mutable.Map[String, Long] = mutable.TreeMap.empty[String, Long]
  var lines = 0L
  var invalid = 0L     // lines whose event fails validation
  var duplicates = 0L  // verbatim redeliveries within one segment
  var silent = 0L      // lines that fire no rule (employee deletes)

  def add(eventType: String): Unit =
    expected(eventType) = expected.getOrElse(eventType, 0L) + 1
  def validEvents: Long = expected.values.sum
}

/** Seeded generator of Debezium-style change envelopes for the HR tables.
  *
  * Every line carries a distinct `ts_ms`, so every domain event it fires
  * has a distinct `eventId`; duplicates are verbatim copies of a line and
  * stay inside the segment of their original (the pipeline's contract is
  * within-batch dedup). Segments are published atomically: written under a
  * dot-name, then renamed, so the source never lists a half-written file.
  */
final class Ledger(seed: Long, baseTsMs: Long = 1718000000000L) {
  private val rnd = new SplittableRandom(seed)
  private var tick = 0L
  private def nextTs(): Long = { tick += 1; baseTsMs + tick * 7 }

  import Ledger.Emp
  private val active = mutable.ArrayBuffer.empty[Emp]
  private var nextEmp = 1
  private var nextRow = 1
  private var nextDept = 1
  private val depts = mutable.ArrayBuffer.empty[(Int, Int, Int)] // id, parent, manager
  private val pendingLeave = mutable.ArrayBuffer.empty[(Int, Int)] // id, employee

  private def env(table: String, op: String, before: String, after: String,
                  ts: Long): String =
    s"""{"before":$before,"after":$after,"source":{"version":"1.0",""" +
      s""""connector":"graft","name":"HCM.CDC.HR","ts_ms":$ts,"db":"hrdb",""" +
      s""""table":"$table"},"op":"$op","ts_ms":$ts}"""

  private def empJson(e: Emp, id: String): String =
    s"""{"id":$id,"employee_number":"EMP${e.id}","first_name":"F${e.id}",""" +
      s""""last_name":"L${e.id % 997}","email":"${e.email}",""" +
      s""""position_id":"IC${e.pos}","department_id":${e.dept},""" +
      s""""manager_id":null,"salary":${e.salary}.00,"hire_date":"2024-06-10",""" +
      s""""status":"${e.status}","created_at":"2024-06-10T05:33:20Z",""" +
      s""""updated_at":"2024-06-10T05:33:20Z"}"""

  private def idOrNull(id: Int, invalid: Boolean) =
    if (invalid) "null" else id.toString

  /** One `employees` change in the reference's op mix: ~70% c, ~20% u
    * (promotion, termination, transfer, data update) and ~10% d. A delete
    * fires no rule. `invalidRate` of the creates carry a null key, which
    * fails validation.
    */
  def employee(t: Truth, invalidRate: Double = 0.0): String = {
    val ts = nextTs()
    val r = rnd.nextDouble()
    t.lines += 1
    if (r < 0.70 || active.size < 8) {
      val e = Emp(nextEmp, 1 + rnd.nextInt(4), 1 + rnd.nextInt(10),
        60000L + rnd.nextInt(40000), "active", s"e$nextEmp@company.com")
      nextEmp += 1
      val bad = rnd.nextDouble() < invalidRate
      if (bad) t.invalid += 1 else { t.add("EmployeeHired"); active += e }
      env("employees", "c", "null", empJson(e, idOrNull(e.id, bad)), ts)
    } else if (r < 0.90) {
      val i = rnd.nextInt(active.size)
      val e = active(i)
      val before = empJson(e, e.id.toString)
      val kind = rnd.nextInt(4)
      val after = kind match {
        case 0 if e.pos < 5 =>
          val p = e.copy(pos = e.pos + 1, salary = e.salary + 5000)
          active(i) = p; t.add("EmployeePromoted"); empJson(p, p.id.toString)
        case 1 =>
          e.status = "terminated"; active.remove(i)
          t.add("EmployeeTerminated"); empJson(e, e.id.toString)
        case 2 =>
          val p = e.copy(dept = 1 + (e.dept % 10))
          active(i) = p; t.add("EmployeeTransferred"); empJson(p, p.id.toString)
        case _ =>
          e.email = s"e${e.id}.${ts % 100000}@company.com"
          t.add("EmployeeDataUpdated"); empJson(e, e.id.toString)
      }
      env("employees", "u", before, after, ts)
    } else {
      val e = active.remove(rnd.nextInt(active.size))
      t.silent += 1
      env("employees", "d", empJson(e, e.id.toString), "null", ts)
    }
  }

  private val words = Seq("on", "site", "remote", "client", "visit", "badge",
    "late", "train", "delay", "meeting", "shift", "swap", "approved", "by",
    "manager", "overtime", "early", "leave", "doctor", "note")

  /** Free text of about `chars` characters (0 gives JSON null). */
  private def notes(chars: Int): String =
    if (chars <= 0) "null"
    else {
      val sb = new StringBuilder("\"")
      val target = chars / 2 + rnd.nextInt(chars + 1)
      while (sb.length < target) sb.append(words(rnd.nextInt(words.size))).append(' ')
      sb.append('"').toString
    }

  def attendance(t: Truth, invalidRate: Double, notesChars: Int = 0): String = {
    val ts = nextTs(); val id = nextRow; nextRow += 1
    val bad = rnd.nextDouble() < invalidRate
    t.lines += 1
    if (bad) t.invalid += 1 else t.add("AttendanceMarked")
    val status = if (rnd.nextInt(20) == 0) "late" else "present"
    env("attendance_records", "c", "null",
      s"""{"id":${idOrNull(id, bad)},"employee_id":${1 + rnd.nextInt(5000)},""" +
        s""""attendance_date":"2024-06-${10 + rnd.nextInt(20)}",""" +
        s""""check_in_time":"09:${10 + rnd.nextInt(50)}:00",""" +
        s""""check_out_time":"17:${10 + rnd.nextInt(50)}:00","status":"$status",""" +
        s""""notes":${notes(notesChars)},"created_at":"2024-06-10T09:00:00Z"}""", ts)
  }

  private def leaveJson(id: String, emp: Int, status: String): String =
    s"""{"id":$id,"employee_id":$emp,"leave_type":"vacation",""" +
      s""""start_date":"2024-06-17","end_date":"2024-06-24","status":"$status",""" +
      s""""approved_by":${if (status == "approved") "7" else "null"},""" +
      s""""reason":"r$emp","created_at":"2024-06-10T05:36:20Z",""" +
      s""""updated_at":"2024-06-10T05:36:20Z"}"""

  /** Leave requests: creates, and approvals of earlier pending requests. */
  def leave(t: Truth, invalidRate: Double): String = {
    val ts = nextTs()
    t.lines += 1
    if (pendingLeave.nonEmpty && rnd.nextInt(5) < 2) {
      val (id, emp) = pendingLeave.remove(rnd.nextInt(pendingLeave.size))
      t.add("LeaveApproved")
      env("leave_requests", "u", leaveJson(id.toString, emp, "pending"),
        leaveJson(id.toString, emp, "approved"), ts)
    } else {
      val id = nextRow; nextRow += 1
      val emp = 1 + rnd.nextInt(5000)
      val bad = rnd.nextDouble() < invalidRate
      if (bad) t.invalid += 1 else { t.add("LeaveRequested"); pendingLeave += ((id, emp)) }
      env("leave_requests", "c", "null", leaveJson(idOrNull(id, bad), emp, "pending"), ts)
    }
  }

  private def deptJson(id: String, parent: Int, manager: Int): String =
    s"""{"id":$id,"name":"D$id","parent_department_id":$parent,""" +
      s""""manager_id":$manager,"created_at":"2024-06-10T05:33:20Z",""" +
      s""""updated_at":"2024-06-10T05:33:20Z"}"""

  /** Org changes: department creates, and updates that change exactly one
    * of parent (a restructure) or manager (an assignment).
    */
  def org(t: Truth, invalidRate: Double): String = {
    val ts = nextTs()
    t.lines += 1
    if (depts.size > 4 && rnd.nextBoolean()) {
      val i = rnd.nextInt(depts.size)
      val (id, parent, mgr) = depts(i)
      val before = deptJson(id.toString, parent, mgr)
      val after =
        if (rnd.nextBoolean()) {
          depts(i) = (id, parent + 1, mgr); t.add("DepartmentRestructured")
          deptJson(id.toString, parent + 1, mgr)
        } else {
          depts(i) = (id, parent, mgr + 1); t.add("ManagerAssigned")
          deptJson(id.toString, parent, mgr + 1)
        }
      env("departments", "u", before, after, ts)
    } else {
      val id = nextDept; nextDept += 1
      val bad = rnd.nextDouble() < invalidRate
      if (bad) t.invalid += 1 else { t.add("DepartmentCreated"); depts += ((id, 1, 100 + id)) }
      env("departments", "c", "null", deptJson(idOrNull(id, bad), 1, 100 + id), ts)
    }
  }

  def salaryChange(t: Truth, invalidRate: Double): String = {
    val ts = nextTs(); val id = nextRow; nextRow += 1
    val emp = 1 + rnd.nextInt(5000)
    val bad = rnd.nextDouble() < invalidRate
    t.lines += 1
    if (bad) t.invalid += 1 else t.add("SalaryAdjusted")
    env("salary_changes", "c", "null",
      s"""{"id":$id,"employee_id":${idOrNull(emp, bad)},"old_salary":90000.00,""" +
        s""""new_salary":${90000 + rnd.nextInt(20000)}.00,"reason":"review",""" +
        s""""effective_date":"2024-06-10","approved_by":null,""" +
        s""""created_at":"2024-06-10T05:35:20Z"}""", ts)
  }

  /** Insert verbatim redeliveries of about `rate` of the lines, each right
    * after a later line of the same segment. Only lines whose event is
    * valid or silent are redelivered, so invalid counts stay exact.
    */
  def withDuplicates(lines: IndexedSeq[String], t: Truth, rate: Double): IndexedSeq[String] = {
    if (rate <= 0) return lines
    val out = mutable.ArrayBuffer.empty[String]
    val held = mutable.Queue.empty[String]
    lines.foreach { l =>
      out += l
      if (held.nonEmpty && rnd.nextInt(4) == 0) out += held.dequeue()
      if (rnd.nextDouble() < rate && !Ledger.isInvalid(l)) held.enqueue(l)
    }
    out ++= held
    val dups = out.size - lines.size
    t.duplicates += dups
    t.lines += dups
    out.toIndexedSeq
  }
}

object Ledger {
  private final case class Emp(id: Int, pos: Int, dept: Int, salary: Long,
                               var status: String, var email: String)

  /** Publish one segment atomically under `<root>/<db>/<table>/<name>`. */
  def writeSegment(root: Path, db: String, table: String, name: String,
                   lines: Seq[String]): Long = {
    val dir = root.resolve(db).resolve(table)
    Files.createDirectories(dir)
    val tmp = dir.resolve("." + name + ".tmp")
    val bytes = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }

  def segmentName(i: Int): String = f"$i%08d.jsonl"

  /** A line is invalid when its key field was nulled by the generator. */
  def isInvalid(line: String): Boolean =
    line.contains("\"after\":{\"id\":null") || line.contains("\"employee_id\":null")
}
