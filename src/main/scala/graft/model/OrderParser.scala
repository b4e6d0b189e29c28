package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** JSON → 52-column flat order lines, as pure Catalyst column
  * operations (SURVEY.md §2.4 J1-J7) — zero UDFs, so the whole parse
  * chain stays inside whole-stage codegen. This replaces the
  * reference's per-record Python flatMap
  * (flink5_process_and_sink_jdbc.py:205-311), removing its
  * JVM↔Python-worker boundary entirely.
  *
  * Tolerated input variants (FIXTURES.md §1 edge cases):
  *   - one order object OR a list of orders per message
  *     (flink5_parse_walmart_order.py:229-232)
  *   - orderLine as array OR single struct (:292-294)
  *   - missing orderLines → order skipped (:283-290)
  *   - empty charges / orderLineStatuses → nulls ([0] extraction, :317-339)
  *   - carrier vs otherCarrier coalesce (:353)
  *   - malformed JSON → no rows (:376-381)
  */
object OrderParser {

  import WalmartOrderSchema._

  private def fmt(epochMs: Column): Column = timestamp_millis(epochMs)

  /** Parse a DataFrame with a JSON-string column into flat order
    * lines. Extra columns (e.g. kafka topic/offset) are dropped;
    * sourceTag lands in source_file (kafka_stream default,
    * flink5_parse_walmart_order.py:250).
    *
    * Each message is parsed once: with an array-of-orders schema, a
    * root object parses as a one-element array (Spark's JSON reader
    * wraps it), and orderLine comes back as raw text. Only that line
    * subtree is parsed again, as an array of lines — a single-struct
    * orderLine likewise comes back as one line. */
  def parse(df: DataFrame, jsonCol: String = "value",
            sourceTag: String = "kafka_stream"): DataFrame = {
    val exploded = df
      .select(explode(from_json(col(jsonCol), ArrayType(orderSchema))).as("o"))
      // malformed JSON explodes to nothing; a null list element is no order
      .where(col("o").isNotNull)
      // missing, null or empty orderLines explode to no rows (:283-290)
      .select(col("o"),
        explode(from_json(col("o.orderLines.orderLine"), ArrayType(lineSchema))).as("l"))

    val charge = try_element_at(col("l.charges.charge"), lit(1))
    val st = try_element_at(col("l.orderLineStatuses.orderLineStatus"), lit(1))
    val tracking = st.getField("trackingInfo")

    val out = Seq(
      "purchaseOrderId" -> col("o.purchaseOrderId").try_cast("long"),
      "customerOrderId" -> col("o.customerOrderId").try_cast("long"),
      "customerEmailId" -> col("o.customerEmailId"),
      "orderDate" -> col("o.orderDate"),
      "orderDate_formatted" -> fmt(col("o.orderDate")),
      "shipNode_type" -> col("o.shipNode.type"),
      "shipNode_name" -> col("o.shipNode.name"),
      "shipNode_id" -> col("o.shipNode.id"),
      "source_file" -> lit(sourceTag),
      "phone" -> col("o.shippingInfo.phone"),
      "estimatedDeliveryDate" -> col("o.shippingInfo.estimatedDeliveryDate"),
      "estimatedDeliveryDate_formatted" -> fmt(col("o.shippingInfo.estimatedDeliveryDate")),
      "estimatedShipDate" -> col("o.shippingInfo.estimatedShipDate"),
      "estimatedShipDate_formatted" -> fmt(col("o.shippingInfo.estimatedShipDate")),
      "methodCode" -> col("o.shippingInfo.methodCode"),
      "recipient_name" -> col("o.shippingInfo.postalAddress.name"),
      "address1" -> col("o.shippingInfo.postalAddress.address1"),
      "address2" -> col("o.shippingInfo.postalAddress.address2"),
      "city" -> col("o.shippingInfo.postalAddress.city"),
      "state" -> col("o.shippingInfo.postalAddress.state"),
      "postalCode" -> col("o.shippingInfo.postalAddress.postalCode"),
      "country" -> col("o.shippingInfo.postalAddress.country"),
      "addressType" -> col("o.shippingInfo.postalAddress.addressType"),
      "lineNumber" -> col("l.lineNumber").try_cast("int"),
      "sku" -> col("l.item.sku"),
      "productName" -> col("l.item.productName"),
      "product_condition" -> col("l.item.condition"),
      "quantity" -> col("l.orderLineQuantity.amount").try_cast("int"),
      "unitOfMeasurement" -> col("l.orderLineQuantity.unitOfMeasurement"),
      "statusDate" -> col("l.statusDate"),
      "statusDate_formatted" -> fmt(col("l.statusDate")),
      "fulfillmentOption" -> col("l.fulfillment.fulfillmentOption"),
      "shipMethod" -> col("l.fulfillment.shipMethod"),
      "storeId" -> col("l.fulfillment.storeId"),
      "shippingProgramType" -> col("l.fulfillment.shippingProgramType"),
      "chargeType" -> charge.getField("chargeType"),
      "chargeName" -> charge.getField("chargeName"),
      "chargeAmount" -> charge.getField("chargeAmount").getField("amount")
        .try_cast("decimal(10,2)"),
      "currency" -> charge.getField("chargeAmount").getField("currency"),
      "taxAmount" -> charge.getField("tax").getField("taxAmount").getField("amount")
        .try_cast("decimal(10,2)"),
      "taxName" -> charge.getField("tax").getField("taxName"),
      "orderLineStatus" -> st.getField("status"),
      "statusQuantity" -> st.getField("statusQuantity").getField("amount").try_cast("int"),
      "cancellationReason" -> st.getField("cancellationReason"),
      "shipDateTime" -> tracking.getField("shipDateTime"),
      "shipDateTime_formatted" -> fmt(tracking.getField("shipDateTime")),
      // carrier-or-otherCarrier coalesce (:353)
      "carrierName" -> coalesce(
        tracking.getField("carrierName").getField("carrier"),
        tracking.getField("carrierName").getField("otherCarrier")),
      "carrierMethodCode" -> tracking.getField("carrierMethodCode"),
      "trackingNumber" -> tracking.getField("trackingNumber"),
      "trackingURL" -> tracking.getField("trackingURL"),
      "request_time" -> to_timestamp(col("o.request_time"), "yyyy-MM-dd HH:mm:ss"),
      "load_time" -> current_timestamp())

    // VARCHAR truncation semantics (to_string(max_length), :436-443),
    // inside the one projection
    exploded.select(out.map { case (name, c) =>
      varcharLimits.get(name).fold(c)(n => substring(c, 1, n)).as(name)
    }: _*)
  }
}
