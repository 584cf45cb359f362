package graft.abi

import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** ABI JSON model — the engine-side equivalent of the reference's
  * dataclasses (`/root/reference/dags/chains/contracts.py:20-74`): a
  * contract JSON has `contract_name`, `dataset_name`, optional
  * `contract_address` (absent for common/erc20 → decode ALL matching
  * rows), and an `abi` list of event/function elements.
  */
final case class AbiParam(
    name: String,
    typ: String,
    indexed: Boolean,
    components: List[AbiParam]) {
  def abiType: AbiType = AbiType.parse(typ, components)
}

final case class AbiEvent(
    name: String,
    inputs: List[AbiParam],
    anonymous: Boolean) {
  def signature: String =
    s"$name(${inputs.map(_.abiType.canonical).mkString(",")})"
  def topic0: String = Keccak256.eventTopic(signature)
}

final case class AbiFunction(
    name: String,
    inputs: List[AbiParam],
    outputs: List[AbiParam]) {
  def signature: String =
    s"$name(${inputs.map(_.abiType.canonical).mkString(",")})"
  def selector: String = Keccak256.selector(signature)
}

final case class EvmContract(
    datasetName: String,
    contractName: String,
    contractAddress: Option[String],
    events: List[AbiEvent],
    functions: List[AbiFunction])

object AbiJson {
  /** Optional decode-mode flag inside the ABI JSON:
    * `"__uint_as_string": true` switches >64-bit integer outputs from
    * DECIMAL(38,0) (null on overflow — 2^256 ≈ 1.2e77 > 10^38) to exact
    * decimal strings, mirroring the reference's tokens-table escape
    * hatch (STRING decimals/total_supply, evm_load_template.py:96-105).
    */
  val UintAsStringKey = "__uint_as_string"

  def uintAsString(json: String): Boolean =
    (JsonMethods.parse(json) \ UintAsStringKey) == JBool(true)

  private def str(v: JValue): Option[String] = v match {
    case JString(s) => Some(s)
    case _ => None
  }

  private def param(j: JValue): AbiParam = AbiParam(
    name = str(j \ "name").getOrElse(""),
    typ = str(j \ "type").getOrElse("uint256"),
    indexed = (j \ "indexed") == JBool(true),
    components = (j \ "components") match {
      case JArray(cs) => cs.map(param)
      case _ => Nil
    })

  private def params(j: JValue): List[AbiParam] = j match {
    case JArray(ps) => ps.map(param)
    case _ => Nil
  }

  def parseEvent(json: String): AbiEvent = event(JsonMethods.parse(json))

  private def event(j: JValue): AbiEvent = AbiEvent(
    name = str(j \ "name").getOrElse(""),
    inputs = params(j \ "inputs"),
    anonymous = (j \ "anonymous") == JBool(true))

  def parseFunction(json: String): AbiFunction =
    function(JsonMethods.parse(json))

  private def function(j: JValue): AbiFunction = AbiFunction(
    name = str(j \ "name").getOrElse(""),
    inputs = params(j \ "inputs"),
    outputs = params(j \ "outputs"))

  def parseContract(json: String): EvmContract = {
    val j = JsonMethods.parse(json)
    val abis = (j \ "abi") match {
      case JArray(as) => as
      case _ => Nil
    }
    EvmContract(
      datasetName = str(j \ "dataset_name").getOrElse(""),
      contractName = str(j \ "contract_name").getOrElse(""),
      contractAddress = str(j \ "contract_address"),
      events = abis.filter(a => str(a \ "type").contains("event")).map(event),
      functions =
        abis.filter(a => str(a \ "type").contains("function")).map(function))
  }
}

/** Parsed ABI type tree + canonical form + Spark schema mapping
  * (SURVEY §1.3). */
sealed trait AbiType {
  def canonical: String
  def isDynamic: Boolean
  /** Spark type of the decoded value. */
  def sparkType: DataType
  /** size in bytes of this type's head slot(s) when embedded statically */
  def headSize: Int = if (isDynamic) 32 else staticSize
  def staticSize: Int = 32
}

object AbiType {
  case object TAddress extends AbiType {
    val canonical = "address"; val isDynamic = false
    val sparkType: DataType = StringType
  }
  case object TBool extends AbiType {
    val canonical = "bool"; val isDynamic = false
    val sparkType: DataType = BooleanType
  }
  final case class TUint(bits: Int) extends AbiType {
    def canonical = s"uint$bits"; val isDynamic = false
    // uint64 does not fit a signed long → Decimal from 64 bits up
    def sparkType: DataType =
      if (bits < 64) LongType else DecimalType(38, 0)
  }
  final case class TInt(bits: Int) extends AbiType {
    def canonical = s"int$bits"; val isDynamic = false
    def sparkType: DataType =
      if (bits <= 64) LongType else DecimalType(38, 0)
  }
  final case class TBytesFixed(n: Int) extends AbiType {
    def canonical = s"bytes$n"; val isDynamic = false
    val sparkType: DataType = StringType // 0x-hex, matching raw tables
  }
  case object TBytes extends AbiType {
    val canonical = "bytes"; val isDynamic = true
    val sparkType: DataType = StringType // 0x-hex
  }
  case object TString extends AbiType {
    val canonical = "string"; val isDynamic = true
    val sparkType: DataType = StringType
  }
  final case class TArray(elem: AbiType, len: Option[Int]) extends AbiType {
    def canonical = s"${elem.canonical}[${len.getOrElse("")}]"
    def isDynamic: Boolean = len.isEmpty || elem.isDynamic
    def sparkType: DataType = ArrayType(elem.sparkType)
    override def staticSize: Int = len.getOrElse(0) * elem.headSize
  }
  final case class TTuple(fields: List[(String, AbiType)]) extends AbiType {
    def canonical = s"(${fields.map(_._2.canonical).mkString(",")})"
    def isDynamic: Boolean = fields.exists(_._2.isDynamic)
    def sparkType: DataType =
      StructType(fields.zipWithIndex.map { case ((n, t), i) =>
        StructField(if (n.nonEmpty) n else s"_$i", t.sparkType)
      })
    override def staticSize: Int = fields.map(_._2.headSize).sum
  }

  private val ArraySuffix = """^(.*)\[(\d*)\]$""".r

  def parse(typ: String, components: List[AbiParam]): AbiType = typ match {
    case ArraySuffix(inner, len) =>
      TArray(parse(inner, components),
        if (len.isEmpty) None else Some(len.toInt))
    case "tuple" =>
      TTuple(components.map(c => c.name -> c.abiType))
    case "address" => TAddress
    case "bool" => TBool
    case "string" => TString
    case "bytes" => TBytes
    case "uint" => TUint(256)
    case "int" => TInt(256)
    case t if t.startsWith("uint") => TUint(t.stripPrefix("uint").toInt)
    case t if t.startsWith("int") => TInt(t.stripPrefix("int").toInt)
    case t if t.startsWith("bytes") => TBytesFixed(t.stripPrefix("bytes").toInt)
    case "byte" => TBytesFixed(1)
    case other => throw new IllegalArgumentException(s"ABI type: $other")
  }
}

/** Decoded-table schema derivation (ABI → StructType), one column per
  * ABI input; indexed dynamic params surface as the keccak topic hash
  * (StringType) per the Ethereum ABI event encoding spec. */
object AbiSchema {
  import AbiType._

  /** Spark type of a decoded ABI value; `uintAsString` switches >64-bit
    * integers to exact decimal strings (see AbiJson.UintAsStringKey). */
  def typeOf(t: AbiType, uintAsString: Boolean): DataType = t match {
    case TUint(b) if b >= 64 && uintAsString => StringType
    case TInt(b) if b > 64 && uintAsString => StringType
    case TArray(e, _) => ArrayType(typeOf(e, uintAsString))
    case TTuple(fields) =>
      StructType(fields.zipWithIndex.map { case ((n, ft), i) =>
        StructField(if (n.nonEmpty) n else s"_$i",
          typeOf(ft, uintAsString))
      })
    case other => other.sparkType
  }

  def eventField(p: AbiParam, uintAsString: Boolean = false): StructField = {
    val t = p.abiType
    val dt =
      if (p.indexed && t.isDynamic) StringType // topic = keccak hash
      else if (p.indexed) t match {
        // indexed static tuples/arrays are also hashed per spec
        case _: TTuple | _: TArray => StringType
        case _ => typeOf(t, uintAsString)
      }
      else typeOf(t, uintAsString)
    StructField(p.name, dt)
  }

  def eventSchema(e: AbiEvent, uintAsString: Boolean = false): StructType =
    StructType(e.inputs.map(eventField(_, uintAsString)))

  def callSchema(f: AbiFunction, uintAsString: Boolean = false): StructType = {
    val in = f.inputs.zipWithIndex.map { case (p, i) =>
      StructField(if (p.name.nonEmpty) p.name else s"_$i",
        typeOf(p.abiType, uintAsString))
    }
    val out = f.outputs.zipWithIndex.map { case (p, i) =>
      StructField(if (p.name.nonEmpty) s"output_${p.name}" else s"output_$i",
        typeOf(p.abiType, uintAsString))
    }
    StructType(in ++ out)
  }
}
