package graft.etl

import org.apache.spark.sql.types._

/** Fixed schemas for the entregas pipeline.
  *
  * Mirrors the reference's explicitly declared types (schema inference is
  * deliberately disabled, `/root/reference/notebooks/ETL_Entregas_Base.ipynb:419-428,477-480`)
  * and the Bronze/Silver DDL (`:300-312,336-354,380-395`).
  *
  * ANSI note: Spark 4 defaults `spark.sql.ansi.enabled=true`; the reference ran
  * pre-ANSI semantics where failed casts/parses yield NULL (load-bearing: an
  * unparseable `fecha_proceso` becomes NULL and is silently dropped by the
  * date-range filter, `:484,496-499`). We pin ANSI off in [[graft.GraftSession.get]] so the
  * whole pipeline — including `to_date` and double→decimal casts — keeps
  * NULL-on-failure semantics without sprinkling `try_*` variants everywhere.
  */
object Schemas {

  /** CSV ingest schema (`ETL_Entregas_Base.ipynb:419-428`): strings + doubles;
    * money/qty are read as double then cast to decimal in Bronze, preserving the
    * reference's double→decimal hop.
    */
  val csvSchema: StructType = StructType(
    Seq(
      StructField("pais", StringType),
      StructField("fecha_proceso", StringType),
      StructField("transporte", StringType),
      StructField("ruta", StringType),
      StructField("tipo_entrega", StringType),
      StructField("material", StringType),
      StructField("precio", DoubleType),
      StructField("cantidad", DoubleType),
      StructField("unidad", StringType)
    )
  )

  val money: DecimalType = DecimalType(21, 2)   // precio / mto_venta (`:307,343`)
  val qty: DecimalType = DecimalType(21, 2)     // cantidad / cant_uni_medida (`:308,344`)
  val unitPrice: DecimalType = DecimalType(21, 3) // precio_unitario_unidades (`:346`)

  /** Bronze (RDV.data_ventas) schema after typing (`:300-312`). */
  val bronzeSchema: StructType = StructType(
    Seq(
      StructField("pais", StringType),
      StructField("fecha_proceso", DateType),
      StructField("transporte", StringType),
      StructField("ruta", StringType),
      StructField("tipo_entrega", StringType),
      StructField("material", StringType),
      StructField("precio", money),
      StructField("cantidad", qty),
      StructField("unidad", StringType)
    )
  )

  /** Silver clean (UDV.data_ventas_depurado) schema (`:336-354`). Note
    * `fec_actualizacion_registro` is STRING by DDL (`:351`) even though the
    * README documents DATE — the code writes a formatted string; DDL/code wins.
    */
  val silverSchema: StructType = StructType(
    Seq(
      StructField("cod_pais", StringType),
      StructField("fec_proceso", DateType),
      StructField("cod_transporte", StringType),
      StructField("cod_ruta", StringType),
      StructField("cod_tipo_entrega", StringType),
      StructField("cod_material", StringType),
      StructField("mto_venta", money),
      StructField("cant_uni_medida", qty),
      StructField("cod_unidad_medida", StringType),
      StructField("precio_unitario_unidades", unitPrice),
      StructField("cant_unidades", qty),
      StructField("ind_rutina", BooleanType),
      StructField("ind_bonificacion", BooleanType),
      StructField("des_fuente", StringType),
      StructField("fec_actualizacion_registro", StringType)
    )
  )

  /** Quarantine (UDV.data_ventas_obs): everything STRING so unparseable values
    * survive verbatim (`:380-395,655-667`), plus the pipe-joined reason column.
    */
  val quarantineSchema: StructType = StructType(
    silverSchema.fields.map(f => StructField(f.name, StringType)) :+
      StructField("motivo_obs", StringType)
  )
}
