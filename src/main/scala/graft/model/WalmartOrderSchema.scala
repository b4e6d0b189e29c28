package graft.model

import org.apache.spark.sql.types._

/** Schemas for the Walmart order domain — the reference's canonical
  * record (SURVEY.md §1.4, FIXTURES.md §1-2).
  *
  * Input: nested order JSON as observed in
  * flink_project/data/walmart_order_2025-10-01.json and navigated by
  * flink5_parse_walmart_order.py:208-364. Output: the 52-column flat
  * row in the exact column order of
  * flink5_process_and_sink_jdbc.py:129-142 with types from
  * stage1_basic_etl/sql/create_walmart_order.sql:1-79.
  *
  * Every field is nullable (the reference asserts only the
  * (purchaseOrderId, sku) PK) — parse never fails a row, it nulls the
  * field, mirroring the reference's null-on-failure coercions
  * (flink5_parse_walmart_order.py:384-445).
  */
object WalmartOrderSchema {

  private def s(fields: StructField*): StructType = StructType(fields)
  private def f(name: String, t: DataType): StructField = StructField(name, t, nullable = true)

  val moneySchema: StructType = s(f("currency", StringType), f("amount", DoubleType))

  val chargeSchema: StructType = s(
    f("chargeType", StringType), f("chargeName", StringType),
    f("chargeAmount", moneySchema),
    f("tax", s(f("taxName", StringType), f("taxAmount", moneySchema))))

  val trackingInfoSchema: StructType = s(
    f("shipDateTime", LongType),
    f("carrierName", s(f("carrier", StringType), f("otherCarrier", StringType))),
    f("methodCode", StringType), f("carrierMethodCode", StringType),
    f("trackingNumber", StringType), f("trackingURL", StringType))

  val orderLineStatusSchema: StructType = s(
    f("status", StringType),
    f("statusQuantity", s(f("unitOfMeasurement", StringType), f("amount", StringType))),
    f("cancellationReason", StringType),
    f("trackingInfo", trackingInfoSchema))

  val lineSchema: StructType = s(
    f("lineNumber", StringType),
    f("item", s(f("productName", StringType), f("sku", StringType), f("condition", StringType))),
    f("charges", s(f("charge", ArrayType(chargeSchema)))),
    f("orderLineQuantity", s(f("unitOfMeasurement", StringType), f("amount", StringType))),
    f("statusDate", LongType),
    f("orderLineStatuses", s(f("orderLineStatus", ArrayType(orderLineStatusSchema)))),
    f("fulfillment", s(
      f("fulfillmentOption", StringType), f("shipMethod", StringType),
      f("storeId", StringType), f("pickUpDateTime", LongType),
      f("pickUpBy", StringType), f("shippingProgramType", StringType))))

  /** Order schema, parsed once per message. `orderLine` is kept as raw
    * JSON text (a StringType field holds the text of an object or array
    * subtree) and parsed by [[lineSchema]] in a second, line-only step,
    * so both of its shapes — array, or the single-struct variant of
    * flink5_parse_walmart_order.py:292-294 — need no second parse of
    * the whole document. */
  val orderSchema: StructType = s(
    f("purchaseOrderId", StringType),
    f("customerOrderId", StringType),
    f("customerEmailId", StringType),
    f("orderDate", LongType),
    f("request_time", StringType),
    f("shippingInfo", s(
      f("phone", StringType),
      f("estimatedDeliveryDate", LongType),
      f("estimatedShipDate", LongType),
      f("methodCode", StringType),
      f("carrierMethodName", StringType),
      f("postalAddress", s(
        f("name", StringType), f("address1", StringType), f("address2", StringType),
        f("city", StringType), f("state", StringType), f("postalCode", StringType),
        f("country", StringType), f("addressType", StringType))))),
    f("orderLines", s(f("orderLine", StringType))),
    f("shipNode", s(f("type", StringType), f("name", StringType), f("id", StringType))))

  /** Output column order — 52 columns, fixed
    * (flink5_process_and_sink_jdbc.py:129-142 / FIXTURES.md §2). */
  val outputColumns: Seq[String] = Seq(
    "purchaseOrderId", "customerOrderId", "customerEmailId", "orderDate",
    "orderDate_formatted", "shipNode_type", "shipNode_name", "shipNode_id",
    "source_file", "phone", "estimatedDeliveryDate",
    "estimatedDeliveryDate_formatted", "estimatedShipDate",
    "estimatedShipDate_formatted", "methodCode", "recipient_name",
    "address1", "address2", "city", "state", "postalCode", "country",
    "addressType", "lineNumber", "sku", "productName", "product_condition",
    "quantity", "unitOfMeasurement", "statusDate", "statusDate_formatted",
    "fulfillmentOption", "shipMethod", "storeId", "shippingProgramType",
    "chargeType", "chargeName", "chargeAmount", "currency", "taxAmount",
    "taxName", "orderLineStatus", "statusQuantity", "cancellationReason",
    "shipDateTime", "shipDateTime_formatted", "carrierName",
    "carrierMethodCode", "trackingNumber", "trackingURL", "request_time",
    "load_time")

  /** VARCHAR truncation lengths (create_walmart_order.sql) applied by
    * the parser — to_string(max_length) semantics
    * (flink5_parse_walmart_order.py:436-443). */
  val varcharLimits: Map[String, Int] = Map(
    "customerEmailId" -> 100, "shipNode_type" -> 50, "shipNode_name" -> 100,
    "shipNode_id" -> 50, "source_file" -> 100, "phone" -> 20,
    "methodCode" -> 50, "recipient_name" -> 100, "address1" -> 200,
    "address2" -> 200, "city" -> 100, "state" -> 50, "postalCode" -> 20,
    "country" -> 10, "addressType" -> 20, "sku" -> 50,
    "product_condition" -> 50, "unitOfMeasurement" -> 20,
    "fulfillmentOption" -> 50, "shipMethod" -> 50, "storeId" -> 50,
    "shippingProgramType" -> 50, "chargeType" -> 50, "chargeName" -> 100,
    "currency" -> 10, "taxName" -> 50, "orderLineStatus" -> 50,
    "cancellationReason" -> 200, "carrierName" -> 100,
    "carrierMethodCode" -> 50, "trackingNumber" -> 100, "trackingURL" -> 500)

  /** MySQL DDL for the sink table (≈ create_walmart_order.sql +
    * init_database_env.py:204-248 bootstrap). */
  def mysqlDdl(database: String = "ods", table: String = "walmart_order"): String = {
    val typed = outputColumns.map {
      case c @ ("purchaseOrderId" | "customerOrderId" | "orderDate" |
                "estimatedDeliveryDate" | "estimatedShipDate" | "statusDate" |
                "shipDateTime") => s"  `$c` BIGINT"
      case c @ ("lineNumber" | "quantity" | "statusQuantity") => s"  `$c` INT"
      case c @ ("chargeAmount" | "taxAmount") => s"  `$c` DECIMAL(10,2)"
      case c @ "productName" => s"  `$c` TEXT"
      case c if c.endsWith("_formatted") => s"  `$c` TIMESTAMP NULL"
      case c @ ("request_time" | "load_time") => s"  `$c` DATETIME"
      case c => s"  `$c` VARCHAR(${varcharLimits.getOrElse(c, 100)})"
    }
    s"""CREATE TABLE IF NOT EXISTS `$database`.`$table` (
       |${typed.mkString(",\n")},
       |  PRIMARY KEY (`purchaseOrderId`, `sku`)
       |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_unicode_ci""".stripMargin
  }

  /** ANSI-dialect DDL for the same table (Derby/Postgres/standard):
    * no backticks or engine clauses, DATETIME→TIMESTAMP, TEXT→wide
    * VARCHAR, explicit NOT NULL on the primary-key columns. Feeds the
    * config-driven bootstrap (graft.tools.DbBootstrap) on engines
    * other than the reference's MySQL. */
  def ansiDdl(schema: String = "ods", table: String = "walmart_order"): String = {
    val typed = outputColumns.map {
      case c @ "purchaseOrderId" => s"  $c BIGINT NOT NULL"
      case c @ "sku" => s"  $c VARCHAR(${varcharLimits("sku")}) NOT NULL"
      case c @ ("customerOrderId" | "orderDate" |
                "estimatedDeliveryDate" | "estimatedShipDate" | "statusDate" |
                "shipDateTime") => s"  $c BIGINT"
      case c @ ("lineNumber" | "quantity" | "statusQuantity") => s"  $c INTEGER"
      case c @ ("chargeAmount" | "taxAmount") => s"  $c DECIMAL(10,2)"
      case c @ "productName" => s"  $c VARCHAR(2000)"
      case c if c.endsWith("_formatted") => s"  $c TIMESTAMP"
      case c @ ("request_time" | "load_time") => s"  $c TIMESTAMP"
      case c => s"  $c VARCHAR(${varcharLimits.getOrElse(c, 100)})"
    }
    s"""CREATE TABLE $schema.$table (
       |${typed.mkString(",\n")},
       |  PRIMARY KEY (purchaseOrderId, sku)
       |)""".stripMargin
  }
}
