package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** One message inside a LiveAgent message group. */
final case class Msg(mid: String, datecreated: LocalDateTime, text: String)

/** A LiveAgent message group: one author, its messages. */
final case class Group(gid: String, userid: String, datecreated: LocalDateTime,
                       msgs: Vector[Msg])

/** One version of a ticket as the source system holds it. `location` is
  * the place the customer last named in the conversation ("" = none);
  * it is what the LLM stub returns and what the serviceability check
  * is computed from.
  */
final case class Ticket(id: String, version: Int, customer: String, agentId: String,
                        subject: String, tags: Vector[String],
                        created: LocalDateTime, changed: LocalDateTime,
                        status: String, groups: Vector[Group], location: String) {
  def code: String = s"$id-v$version"
  def messageCount: Int = groups.map(_.msgs.size).sum
}

final case class Customer(id: String, name: String, email: String)
final case class Agent(id: String, name: String, email: String, lastPswdChange: LocalDateTime)
final case class Tag(id: String, name: String, color: String)
final case class Place(code: String, name: String, level: String)

/** One 6-hour incremental window (start, end]: the ticket versions the
  * source system writes inside it, new tickets and changed ones alike.
  */
final case class Window(start: LocalDateTime, end: LocalDateTime, tickets: Vector[Ticket])

/** Input sizes of one generated dataset. */
final case class Sizes(tickets: Int, months: Int, windows: Int,
                       newPerWindow: Int, changeShare: Double,
                       correctionShare: Double)

/** Everything a run feeds the program, generated from one seed. */
final case class Dataset(agents: Vector[Agent], tags: Vector[Tag],
                         customers: Vector[Customer], gazetteer: Vector[Place],
                         serviceable: Vector[String], initial: Vector[Ticket],
                         windows: Vector[Window], backfillFrom: LocalDate,
                         backfillUntil: LocalDate) {
  def customerById: Map[String, Customer] = customers.map(c => c.id -> c).toMap
}

/** Seeded generator of a LiveAgent-shaped dataset: 40 agents, 60 tags, a
  * PSGC-shaped gazetteer of about 1.7k place names with a 69-name
  * serviceable list, tickets with about 9 messages in 3 groups, and a
  * sequence of 6-hour windows in which a share of tickets changes and new
  * tickets arrive. Pure function of (seed, sizes).
  */
object Gen {

  val Fmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val Epoch: LocalDate = graft.pipeline.Incremental.BackfillEpoch
  val GazetteerSize = 1700
  val ServiceableSize = 69
  /** Share of customers whose stated location is a serviceable place. */
  val ServiceableShare = 0.4
  /** Share of tickets whose conversation names no location at all. */
  val NoLocationShare = 0.15

  private val Syllables = Vector("ba", "ka", "la", "ma", "na", "pa", "sa", "ta",
    "bu", "ku", "lu", "mu", "nu", "pu", "su", "tu", "bi", "ki", "li", "mi", "ni",
    "pi", "si", "ti", "bo", "ko", "lo", "mo", "no", "po", "so", "to", "dan",
    "gan", "lan", "man", "nan", "pan", "san", "tan", "hon", "ron", "yag", "wag")
  private val Prefixes = Vector("", "", "", "san ", "santa ", "bagong ", "poblacion ",
    "upper ", "lower ", "villa ")
  private val Words = Vector("aircon", "repair", "cleaning", "schedule", "unit",
    "split", "window", "technician", "tomorrow", "morning", "afternoon", "please",
    "thanks", "price", "warranty", "leak", "noise", "cooling", "service", "install",
    "brand", "model", "payment", "cash", "visit", "available", "confirm", "booking",
    "request", "problem", "water", "filter", "remote", "compressor", "freon",
    "condo", "house", "office", "inverter", "quotation", "inspection", "weekend")
  private val FirstNames = Vector("Maria", "Jose", "Ana", "Juan", "Rosa", "Mark",
    "Grace", "Paolo", "Liza", "Carlo", "Joy", "Rey", "Ella", "Miguel", "Nina")
  private val LastNames = Vector("Santos", "Reyes", "Cruz", "Bautista", "Garcia",
    "Mendoza", "Torres", "Flores", "Ramos", "Aquino", "Castillo", "Villanueva")
  private val Statuses = Vector("N", "T", "A", "C", "R", "W", "P")

  def fmt(t: LocalDateTime): String = t.format(Fmt)

  private def pick[A](r: SplittableRandom, xs: Vector[A]): A = xs(r.nextInt(xs.size))

  private def hex(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => "0123456789abcdef".charAt(r.nextInt(16))).mkString

  private def sentence(r: SplittableRandom, lo: Int, hi: Int): String =
    Vector.fill(lo + r.nextInt(hi - lo + 1))(pick(r, Words)).mkString(" ")

  private def titleCase(s: String): String =
    s.split(' ').map(w => w.take(1).toUpperCase + w.drop(1)).mkString(" ")

  /** Distinct place names of at least 6 letters (the geocode n-gram size is
    * at least 5, so shorter names could never score).
    */
  private def gazetteer(r: SplittableRandom): Vector[Place] = {
    val names = scala.collection.mutable.LinkedHashSet.empty[String]
    while (names.size < GazetteerSize) {
      val word = Vector.fill(2 + r.nextInt(3))(pick(r, Syllables)).mkString
      val second = if (r.nextInt(4) == 0)
        " " + Vector.fill(2 + r.nextInt(2))(pick(r, Syllables)).mkString else ""
      val n = pick(r, Prefixes) + word + second
      if (n.replace(" ", "").length >= 6) names += n
    }
    names.toVector.zipWithIndex.map { case (n, i) =>
      Place(f"${130000000 + i * 1000}%09d", n,
        if (i % 20 == 0) "City" else if (i % 5 == 0) "Mun" else "Bgy")
    }
  }

  private def customerLine(r: SplittableRandom, location: String): String =
    if (location.isEmpty) sentence(r, 6, 12)
    else s"${sentence(r, 4, 9)}. Address: ${titleCase(location)}."

  /** The three groups of a new ticket: customer, agent reply, customer. */
  private def groups(r: SplittableRandom, id: String, customer: String, agentId: String,
                     start: LocalDateTime, location: String): Vector[Group] = {
    var t = start
    def next(): LocalDateTime = { t = t.plusSeconds(30 + r.nextInt(600)); t }
    Vector((customer, 0), (agentId, 1), (customer, 2)).map { case (author, g) =>
      val gAt = next()
      val msgs = (0 until 3).toVector.map { m =>
        val text =
          if (g == 0 && m == 1) customerLine(r, location)
          else if (g == 1 && m == 2 && r.nextInt(3) == 0)
            s"${sentence(r, 4, 8)} Ref: ${hex(r, 6).toUpperCase}"
          else sentence(r, 5, 14)
        Msg(s"$id-m$g$m", if (m == 0) gAt else next(), text)
      }
      Group(s"$id-g$g", author, gAt, msgs)
    }
  }

  private def location(r: SplittableRandom, gaz: Vector[Place],
                       serviceable: Vector[String]): String = {
    val u = r.nextDouble()
    if (u < NoLocationShare) ""
    else if (u < NoLocationShare + ServiceableShare) pick(r, serviceable)
    else pick(r, gaz).name
  }

  private def newTicket(r: SplittableRandom, n: Int, created: LocalDateTime,
                        customers: Vector[Customer], agents: Vector[Agent],
                        tags: Vector[Tag], gaz: Vector[Place],
                        serviceable: Vector[String]): Ticket = {
    val id = f"T$n%07d"
    val customer = pick(r, customers).id
    val agent = pick(r, agents).id
    val loc = location(r, gaz, serviceable)
    val gs = groups(r, id, customer, agent, created, loc)
    val changed = gs.last.msgs.last.datecreated
    Ticket(id, 1, customer, agent, sentence(r, 3, 6),
      Vector.fill(r.nextInt(3))(pick(r, tags).name).distinct,
      created, changed, pick(r, Statuses), gs, loc)
  }

  /** A later version of `t`, changed at `at`: one more group with a
    * customer follow-up; with probability `correctionShare` that follow-up
    * names a different location, as when a customer corrects an address.
    */
  private def change(r: SplittableRandom, t: Ticket, at: LocalDateTime,
                     correctionShare: Double, gaz: Vector[Place],
                     serviceable: Vector[String]): Ticket = {
    val correct = r.nextDouble() < correctionShare
    val loc =
      if (!correct) t.location
      else Iterator.continually(location(r, gaz, serviceable))
        .find(l => l.nonEmpty && l != t.location).get
    val g = t.groups.size
    val text = if (correct) s"Correction, ${sentence(r, 3, 6)}. Address: ${titleCase(loc)}."
               else sentence(r, 5, 12)
    val grp = Group(s"${t.id}-g$g", t.customer, at,
      Vector(Msg(s"${t.id}-m${g}0", at, text)))
    t.copy(version = t.version + 1, changed = at, status = pick(r, Statuses),
      groups = t.groups :+ grp, location = loc)
  }

  def generate(seed: Long, s: Sizes): Dataset = {
    val r = new SplittableRandom(seed)
    val gaz = gazetteer(r.split())
    val sr = r.split()
    val serviceable = scala.util.Random.javaRandomToRandom(new java.util.Random(sr.nextLong()))
      .shuffle(gaz.map(_.name)).take(ServiceableSize).sortBy(identity)
    val ar = r.split()
    val agents = Vector.tabulate(40) { i =>
      Agent(hex(ar, 8), s"${pick(ar, FirstNames)} ${pick(ar, LastNames)}",
        s"agent$i@brand.ph", LocalDateTime.of(2024, 1 + ar.nextInt(12), 1 + ar.nextInt(28),
          ar.nextInt(24), ar.nextInt(60)))
    }
    val tr = r.split()
    val tags = Vector.tabulate(60)(i => Tag(f"tg$i%02d", s"${pick(tr, Words)}-$i", hex(tr, 6)))
    val cr = r.split()
    val customers = Vector.tabulate(math.max(10, s.tickets * 2 / 3 +
        s.windows * s.newPerWindow)) { i =>
      val name = if (cr.nextInt(10) == 0) "  " else s"${pick(cr, FirstNames)} ${pick(cr, LastNames)}"
      Customer(f"U$i%07d", name, f"user$i@mail.ph")
    }
    val kr = r.split()
    val span = java.time.Duration.between(Epoch.atStartOfDay(),
      Epoch.plusMonths(s.months).atStartOfDay()).getSeconds - 7200
    val initial = Vector.tabulate(s.tickets) { n =>
      val created = Epoch.atStartOfDay().plusSeconds((kr.nextDouble() * span).toLong)
      newTicket(kr, n, created, customers, agents, tags, gaz, serviceable)
    }
    // incremental windows start after the last initial change
    val w0 = Epoch.plusMonths(s.months).atStartOfDay().plusHours(6)
    val cur = scala.collection.mutable.Map(initial.map(t => t.id -> t): _*)
    val wr = r.split()
    var nextId = s.tickets
    val windows = Vector.tabulate(s.windows) { w =>
      val start = w0.plusHours(6L * w)
      def inside(): LocalDateTime = start.plusSeconds(1 + wr.nextInt(6 * 3600 - 3600))
      val nChanged = math.max(1, math.round(cur.size * s.changeShare).toInt)
      val ids = cur.keys.toVector.sorted
      val changedIds = Iterator.continually(pick(wr, ids)).distinct.take(nChanged).toVector
      val changed = changedIds.map(id =>
        change(wr, cur(id), inside(), s.correctionShare, gaz, serviceable))
      val fresh = Vector.fill(s.newPerWindow) {
        nextId += 1
        newTicket(wr, nextId - 1, inside(), customers, agents, tags, gaz, serviceable)
      }.filter(_.changed.isBefore(start.plusHours(6)))
      (changed ++ fresh).foreach(t => cur(t.id) = t)
      Window(start, start.plusHours(6).minusSeconds(1), (changed ++ fresh).sortBy(_.id))
    }
    val lastCreated = initial.map(_.created).max.toLocalDate
    val ds = Dataset(agents, tags, customers, gaz, serviceable, initial, windows,
      Epoch, lastCreated)
    checkWindowCaps(ds)
    ds
  }

  /** `LiveAgentSource.paginate` stops after MaxPages pages without an error,
    * so a window holding more rows than MaxPages × PageSize would be cut
    * short silently. Every window the benchmark fetches must fit.
    */
  def checkWindowCaps(ds: Dataset): Unit = {
    val cap = graft.sources.LiveAgentSource.MaxPages * graft.sources.LiveAgentSource.PageSize
    for ((s, e) <- graft.pipeline.Incremental.backfillMonths(ds.backfillFrom, ds.backfillUntil)) {
      val n = ds.initial.count(t => inWindow(t.created, s.toLocalDateTime, e.toLocalDateTime))
      require(n <= cap, s"backfill window $s..$e holds $n tickets > $cap (pagination cap)")
    }
    for (w <- ds.windows)
      require(w.tickets.size <= cap,
        s"window ${w.start} holds ${w.tickets.size} tickets > $cap (pagination cap)")
    require(ds.initial.forall(_.messageCount <= cap) &&
      ds.windows.forall(_.tickets.forall(_.messageCount <= cap)))
  }

  /** The `_filters` predicate `D>` start and `D<=` end. */
  def inWindow(t: LocalDateTime, start: LocalDateTime, end: LocalDateTime): Boolean =
    t.isAfter(start) && !t.isAfter(end)
}
