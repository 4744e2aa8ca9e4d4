package perfbench

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

class EntregasSpec extends AnyFunSuite {
  private val day = LocalDate.of(2025, 1, 7)

  test("the same seed gives identical bytes; another seed gives other bytes") {
    val a = Entregas.csvBytes(Entregas.dayRows(42L, day, 2000))
    val b = Entregas.csvBytes(Entregas.dayRows(42L, day, 2000))
    val c = Entregas.csvBytes(Entregas.dayRows(43L, day, 2000))
    assert(java.util.Arrays.equals(a, b))
    assert(!java.util.Arrays.equals(a, c))
    // a day's rows do not depend on which range they are generated in
    val range = (0 until 3).flatMap(d => Entregas.dayRows(42L, day.minusDays(1).plusDays(d), 2000))
    assert(range.slice(2000, 4000) == Entregas.dayRows(42L, day, 2000))
  }

  test("generated rows reach every outcome the oracle distinguishes") {
    val rows = Entregas.dayRows(7L, day, 5000)
    val ranges = Entregas.Countries.map(_ -> (day, day)).toMap
    val (cells, dropped) = Entregas.expect(rows, ranges)
    val all = Entregas.byCountry(cells)
    assert(all.keySet == Entregas.Countries.toSet)
    assert(dropped > 0)
    all.values.foreach { c =>
      assert(c.clean > 0 && c.quarantine > 0)
      Entregas.Rules.foreach(r => assert(c.rules.getOrElse(r, 0L) > 0, r))
    }
    assert(rows.exists(r => Entregas.outcome(r, ranges) match {
      case Entregas.Quarantined(_, _, rs) => rs.size >= 5
      case _ => false
    }))
  }

  test("the oracle reproduces the FIXTURES.md section A expectations") {
    val csv =
      """EC,20250110,T1,R1,ZPRE,M1,100.0,2.0,CS
        |EC,20250111,T1,R1,Z04,M2,50.5,1.0,ST
        |EC,20250112,T1,R2, zpre ,M3,10.0,1.0,cs
        |EC,20250113,T2,R1,ZVE1,,20.0,1.0,ST
        |EC,20250114,T2,R1,ZPRE,M4,,1.0,ST
        |EC,20250115,T2,R1,ZPRE,M5,-5.0,1.0,ST
        |EC,20250116,T2,R1,ZPRE,M6,5.0,,ST
        |EC,20250117,T2,R1,ZPRE,M7,5.0,0.0,ST
        |EC,20250118,T2,R1,ZPRE,M8,5.0,1.0,XX
        |EC,20250119,T2,R1,ZZZ,M9,5.0,1.0,ST
        |EC,20250120,T2,R1,ZZZ,,0.0,-1.0,XX
        |EC,2025 0121,T1,R1,ZPRE,M10,1.0,1.0,ST
        |EC,20250122,T1,R1,,M15,5.0,1.0,ST
        |EC,garbage,T1,R1,ZPRE,M11,1.0,1.0,ST
        |EC,20240101,T1,R1,ZPRE,M12,1.0,1.0,ST
        |PE,20250110,T1,R1,ZPRE,M13,30.0,3.0,CS
        |BR,20250110,T1,R1,ZPRE,M14,1.0,1.0,ST
        |""".stripMargin.linesIterator.map { l =>
        val f = l.split(",", -1)
        Entregas.Row(f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7), f(8))
      }.toSeq
    val range = (LocalDate.of(2025, 1, 1), LocalDate.of(2025, 6, 30))
    val ranges = Map("EC" -> range, "PE" -> range)
    val (cells, dropped) = Entregas.expect(csv, ranges)
    val by = Entregas.byCountry(cells)
    assert(by("EC").clean == 5 && by("EC").quarantine == 8)
    assert(by("PE").clean == 1 && by("PE").quarantine == 0)
    assert(dropped == 3) // garbage date, out-of-range date, BR
    def reasons(material: String): Seq[String] =
      Entregas.outcome(csv.find(_.material == material).get, ranges) match {
        case Entregas.Quarantined(_, _, rs) => rs
        case other => fail(s"$material: $other")
      }
    assert(reasons("M5") == Seq("ERR_VENTA_NO_POSITIVA"))
    assert(reasons("M15") == Seq("ERR_TIPO_ENTREGA_NO_CONSIDERADA"))
    val multi = Entregas.outcome(csv.find(r => r.tipo == "ZZZ" && r.material.isEmpty).get, ranges)
    assert(multi == Entregas.Quarantined("EC", LocalDate.of(2025, 1, 20), Seq(
      "ERR_CANT_NO_POSITIVA", "ERR_SIN_MATERIAL_CONOCIDO", "ERR_UNIDAD_DESCONOCIDA",
      "ERR_VENTA_NO_POSITIVA", "ERR_TIPO_ENTREGA_NO_CONSIDERADA")))
    // clean-row checksum: cantidad and precio in cents, NULL precio adds nothing
    assert(by("EC").cantCents == 200 + 100 + 100 + 100 + 100)
    assert(by("EC").precioCents == 10000 + 5050 + 1000 + 100)
  }
}
