package perfbench

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded generator of entregas CSV input (FIXTURES.md §A columns) and an
  * independent oracle of what the pipeline must make of it.
  *
  * The generator draws rows from fixed shares of categories: clean rows
  * (with case/whitespace variants of codes and units), rows that fire each
  * of the six quality rules, rows firing several rules at once, rows with a
  * NULL price (allowed), whitespace-split and unparseable dates, dates
  * outside the configured range, and rows of countries outside the config.
  * The same (seed, day) always yields the same bytes.
  *
  * The oracle never looks at the category a row was drawn from: it re-derives
  * the outcome from the CSV fields with the reference semantics (country and
  * inclusive date-range slice, decimal(21,2) casts, the six rules in
  * declaration order), so it can be checked against the hand-written §A rows.
  */
object Entregas {
  val Header = "pais,fecha_proceso,transporte,ruta,tipo_entrega,material,precio,cantidad,unidad"

  val Countries: Seq[String] = Seq("EC", "PE")
  val OtherCountries: Seq[String] = Seq("BR", "AR")
  val Routine: Seq[String] = Seq("ZPRE", "ZVE1")
  val Bonus: Seq[String] = Seq("Z04", "Z05")
  val UnitFactors: Map[String, Int] = Map("CS" -> 20, "ST" -> 1, "PQ" -> 12)

  /** Rule codes in declaration order (the order of the pipe-joined reason). */
  val Rules: Seq[String] = Seq(
    "ERR_CANT_NULL", "ERR_CANT_NO_POSITIVA", "ERR_SIN_MATERIAL_CONOCIDO",
    "ERR_UNIDAD_DESCONOCIDA", "ERR_VENTA_NO_POSITIVA", "ERR_TIPO_ENTREGA_NO_CONSIDERADA")

  final case class Row(pais: String, fecha: String, transporte: String, ruta: String,
                       tipo: String, material: String, precio: String, cantidad: String,
                       unidad: String) {
    def csv: String =
      Seq(pais, fecha, transporte, ruta, tipo, material, precio, cantidad, unidad).mkString(",")
  }

  private val basic = DateTimeFormatter.BASIC_ISO_DATE
  def ymd(d: LocalDate): String = d.format(basic)

  private def cents(c: Long): String = {
    val sign = if (c < 0) "-" else ""
    val a = math.abs(c)
    f"$sign${a / 100}%d.${a % 100}%02d"
  }

  /** Rows for one process date. Every row of the day is drawn from
    * `SplittableRandom(seed * 1000003 + epochDay)`, so a day's rows are the
    * same whether the day is generated alone or as part of a range.
    */
  def dayRows(seed: Long, day: LocalDate, n: Int): Seq[Row] = {
    val r = new SplittableRandom(seed * 1000003L + day.toEpochDay)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def pos(maxCents: Int): String = cents(1 + r.nextInt(maxCents))
    (0 until n).map { i =>
      var pais = pick(Countries)
      var fecha = ymd(day)
      var tipo = pick(Seq("ZPRE", "ZVE1", "Z04", "Z05", " zpre ", "z04", "ZVE1 "))
      var material = f"M${r.nextInt(1000000)}%06d"
      var precio = pos(500000)
      var cantidad = pos(10000)
      var unidad = pick(Seq("CS", "ST", "PQ", " cs", "st"))
      val u = r.nextInt(1000)
      if (u < 30) pais = pick(OtherCountries)
      else if (u < 45) fecha = pick(Seq("garbage", "2025-1-3", "", "2025XX01"))
      else if (u < 60) fecha = ymd(day.minusYears(1))
      else if (u < 80) fecha = fecha.take(4) + " " + fecha.drop(4)
      else if (u < 110) cantidad = ""
      else if (u < 140) cantidad = pick(Seq("0.00", "-1.00", cents(-1 - r.nextInt(500))))
      else if (u < 170) material = ""
      else if (u < 200) unidad = pick(Seq("XX", "KGX", " "))
      else if (u < 230) precio = pick(Seq("0.00", cents(-1 - r.nextInt(10000))))
      else if (u < 260) tipo = pick(Seq("ZZZ", "", "Z99", "ZPRE1"))
      else if (u < 275) { cantidad = "-1.00"; material = ""; unidad = "XX"; precio = "0.00"; tipo = "ZZZ" }
      else if (u < 290) { material = ""; tipo = "" }
      else if (u < 310) precio = ""
      Row(pais, fecha, f"T${i % 97}%03d", f"R${r.nextInt(400)}%03d", tipo, material,
        precio, cantidad, unidad)
    }
  }

  def csvBytes(rows: Iterable[Row]): Array[Byte] = {
    val sb = new StringBuilder(Header).append('\n')
    rows.foreach(x => sb.append(x.csv).append('\n'))
    sb.result().getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** What the pipeline must produce for one (country, process date) slice. */
  final case class Cell(clean: Long, quarantine: Long, rules: Map[String, Long],
                        cantCents: Long, precioCents: Long) {
    def +(o: Cell): Cell = Cell(clean + o.clean, quarantine + o.quarantine,
      (rules.keySet ++ o.rules.keySet).map(k =>
        k -> (rules.getOrElse(k, 0L) + o.rules.getOrElse(k, 0L))).toMap,
      cantCents + o.cantCents, precioCents + o.precioCents)
  }
  val EmptyCell: Cell = Cell(0, 0, Map.empty, 0, 0)

  sealed trait Outcome
  case object Dropped extends Outcome
  final case class Clean(country: String, day: LocalDate, cantCents: Long,
                         precioCents: Option[Long]) extends Outcome
  final case class Quarantined(country: String, day: LocalDate, reasons: Seq[String])
    extends Outcome

  private def parseCents(s: String): Option[Long] =
    if (s.isEmpty) None
    else Some(new java.math.BigDecimal(s).setScale(2, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact())

  private def parseDate(s: String): Option[LocalDate] = {
    val t = s.replaceAll("\\s+", "")
    if (t.length != 8 || !t.forall(_.isDigit)) None
    else scala.util.Try(LocalDate.parse(t, basic)).toOption
  }

  /** Outcome of one CSV row under a config of `ranges` (country → inclusive
    * date range), the routine/bonus code lists and the unit factors.
    */
  def outcome(row: Row, ranges: Map[String, (LocalDate, LocalDate)],
              known: Set[String] = (Routine ++ Bonus).toSet,
              units: Set[String] = UnitFactors.keySet): Outcome = {
    val inRange = for {
      (lo, hi) <- ranges.get(row.pais)
      d <- parseDate(row.fecha)
      if !d.isBefore(lo) && !d.isAfter(hi)
    } yield d
    inRange match {
      case None => Dropped
      case Some(d) =>
        def norm(s: String): Option[String] =
          if (s.isEmpty) None else Some(s.trim.toUpperCase)
        val cant = parseCents(row.cantidad)
        val precio = parseCents(row.precio)
        val reasons = Seq(
          cant.isEmpty,
          cant.exists(_ <= 0),
          row.material.isEmpty,
          !norm(row.unidad).exists(units.contains),
          precio.exists(_ <= 0),
          !norm(row.tipo).exists(known.contains)
        ).zip(Rules).collect { case (true, code) => code }
        if (reasons.isEmpty) Clean(row.pais, d, cant.get, precio)
        else Quarantined(row.pais, d, reasons)
    }
  }

  /** Expected result cells keyed by (country, process date), plus the count
    * of dropped rows.
    */
  def expect(rows: Iterable[Row], ranges: Map[String, (LocalDate, LocalDate)])
      : (Map[(String, LocalDate), Cell], Long) = {
    val cells = scala.collection.mutable.HashMap.empty[(String, LocalDate), Cell]
    var dropped = 0L
    rows.foreach { row =>
      outcome(row, ranges) match {
        case Dropped => dropped += 1
        case Clean(c, d, cc, pc) =>
          cells((c, d)) = cells.getOrElse((c, d), EmptyCell) +
            Cell(1, 0, Map.empty, cc, pc.getOrElse(0L))
        case Quarantined(c, d, rs) =>
          cells((c, d)) = cells.getOrElse((c, d), EmptyCell) +
            Cell(0, 1, rs.map(_ -> 1L).toMap, 0, 0)
      }
    }
    (cells.toMap, dropped)
  }

  def byCountry(cells: Map[(String, LocalDate), Cell]): Map[String, Cell] =
    cells.groupBy(_._1._1).map { case (c, m) => c -> m.values.foldLeft(EmptyCell)(_ + _) }

  /** The pipeline's YAML config for `ranges`, in the reference layout. */
  def configYaml(csvPath: String, outputRoot: String,
                 ranges: Seq[(String, LocalDate, LocalDate)]): String = {
    val sb = new StringBuilder
    sb ++= s"paths:\n  raw_csv: $csvPath\n  output_root: $outputRoot\nparams:\n"
    ranges.foreach { case (c, lo, hi) =>
      sb ++= s"- country: $c\n  start_date: '$lo'\n  end_date: '$hi'\n  proccess: 'NO'\n"
    }
    sb ++= "delivery_types:\n  routine:\n"
    Routine.foreach(t => sb ++= s"  - $t\n")
    sb ++= "  bonus:\n"
    Bonus.foreach(t => sb ++= s"  - $t\n")
    sb ++= "unit_factors:\n"
    UnitFactors.toSeq.sortBy(_._1).foreach { case (u, f) => sb ++= s"  $u: $f\n" }
    sb.result()
  }
}
