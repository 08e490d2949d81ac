package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.charset.StandardCharsets.UTF_8
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

/** Seeded generator of the `etl_ingest` inputs: one JSON envelope per
  * route, the HTTP status the loopback server answers with, and what
  * the pipeline must make of it.
  *
  * The envelope shapes are the ones the normalizer branches on: a list
  * under `root_path`, a struct under `root_path`, a bare top-level
  * array with no `root_path`, nested structs inside elements, string
  * columns sent as UTF-8 byte arrays (as integers and as doubles), and
  * keys that only some elements carry. Every envelope also carries the
  * technical pagination columns the pipeline drops. The expected rows
  * are built from the same records the JSON is written from, so a
  * route's Parquet read back must hash to [[Expected.hash]].
  */
object EtlGen {

  /** `outcome` is `ok` (Parquet written) or the fail-soft outcome the
    * pipeline must record without stopping: `empty`, `http_404`,
    * `http_500` or `templated`.
    */
  final case class Expected(outcome: String, rows: Long, columns: Seq[String], hash: String)

  /** `path` is the route as written in the config; `status` and `body`
    * are what the server answers for it.
    */
  final case class Route(
      id: String,
      rootPath: Option[String],
      path: String,
      status: Int,
      body: Array[Byte],
      expected: Expected)

  /** Small envelopes hold 5 to 60 records; large ones are filled to
    * `largeBytes` of JSON.
    */
  final case class Sizes(small: Int, large: Int, largeBytes: Int)

  private val Words = Vector(
    "material", "grupo", "classe", "Maçã", "São Paulo", "ação", "café",
    "órgão", "licitação", "pregão", "item", "serviço", "obra", "Brasília",
    "edital", "contrato", "aviso", "ata", "ñandú", "zoë")

  private val SmallShapes = Vector("list", "struct", "noroot", "nested_sparse", "bytes")

  private val mapper = new ObjectMapper()

  def routes(seed: Long, sizes: Sizes): Seq[Route] = {
    val rng = new java.util.SplittableRandom(seed)
    val small = (0 until sizes.small).map { i =>
      val shape = SmallShapes(i % SmallShapes.size)
      envelope(f"s$i%02d_$shape", shape, 5 + rng.nextInt(56), Int.MaxValue, rng)
    }
    val large = (0 until sizes.large).map { i =>
      envelope(f"l$i%02d_list", "list", Int.MaxValue, sizes.largeBytes, rng)
    }
    val failSoft = Seq(
      Route("f00_empty", Some("resultado"), "/r/f00_empty", 200, "[]".getBytes(UTF_8),
        Expected("empty", 0, Nil, "")),
      Route("f01_http404", Some("resultado"), "/r/f01_http404", 404, Array.emptyByteArray,
        Expected("http_404", 0, Nil, "")),
      Route("f02_http500", Some("resultado"), "/r/f02_http500", 500, Array.emptyByteArray,
        Expected("http_500", 0, Nil, "")),
      Route("f03_templated", Some("resultado"), "/r/f03_templated/{id}", 200, Array.emptyByteArray,
        Expected("templated", 0, Nil, "")))
    small ++ large ++ failSoft
  }

  /** One record: a JSON object plus the row the normalizer must turn it
    * into (nested structs stay structs, byte arrays become strings).
    */
  private def record(shape: String, rng: java.util.SplittableRandom): (JMap[String, AnyRef], Seq[(String, Any)]) = {
    val json = new JMap[String, AnyRef]()
    val row = Seq.newBuilder[(String, Any)]
    def put(k: String, jsonValue: AnyRef, rowValue: Any): Unit = { json.put(k, jsonValue); row += k -> rowValue }
    def word(): String = Words(rng.nextInt(Words.size))
    val code = rng.nextLong(1L, 1L << 40)
    put("codigo", java.lang.Long.valueOf(code), code)
    val name = s"${word()} ${word()}"
    put("nome", name, name)
    val value = rng.nextInt(4000000) / 4.0
    put("valor", java.lang.Double.valueOf(value), value)
    val active = rng.nextBoolean()
    put("ativo", java.lang.Boolean.valueOf(active), active)
    shape match {
      case "nested_sparse" =>
        val city = word()
        val zip = rng.nextLong(1000000L, 99999999L)
        val addr = new JMap[String, AnyRef]()
        addr.put("cidade", city)
        addr.put("cep", java.lang.Long.valueOf(zip))
        addr.put("uf", "SP")
        put("endereco", addr, Fingerprint.Struct(Seq("cidade" -> city, "cep" -> zip, "uf" -> "SP")))
      case "bytes" =>
        // one column as integer bytes, one as double bytes
        def asBytes(text: String, wide: Int => AnyRef): JList[AnyRef] = {
          val xs = new JList[AnyRef]()
          text.getBytes(UTF_8).foreach(b => xs.add(wide(b & 0xff)))
          xs
        }
        val label = s"${word()}-${rng.nextInt(1000)}"
        put("rotulo", asBytes(label, u => java.lang.Long.valueOf(u.toLong)), label)
        val tag = word()
        put("sigla", asBytes(tag, u => java.lang.Double.valueOf(u.toDouble)), tag)
      case _ => ()
    }
    (json, row.result())
  }

  private def envelope(
      id: String,
      shape: String,
      records: Int,
      maxBytes: Int,
      rng: java.util.SplittableRandom): Route = {
    val items = new JList[AnyRef]()
    val rows = Vector.newBuilder[Seq[(String, Any)]]
    var bytes = 0L
    var i = 0
    val n = if (shape == "struct") 1 else records
    while (i < n && bytes < maxBytes) {
      val (json, row) = record(shape, rng)
      // `nested_sparse`: every other record carries an extra key, so
      // the column exists and is null where the key is missing.
      val full =
        if (shape != "nested_sparse") row
        else if (i % 2 == 0) { val note = s"obs $i"; json.put("observacao", note); row :+ ("observacao" -> note) }
        else row :+ ("observacao" -> null)
      items.add(json)
      rows += full
      bytes += mapper.writeValueAsBytes(json).length + 1
      i += 1
    }
    val expectedRows = rows.result()
    val (doc, rootPath) = shape match {
      case "noroot" => (items, None)
      case "struct" => (withTechnical("resultado", items.get(0)), Some("resultado"))
      case "nested_sparse" => (withTechnical("dados", items), Some("dados"))
      case _        => (withTechnical("resultado", items), Some("resultado"))
    }
    val body = mapper.writeValueAsBytes(doc)
    val columns = expectedRows.head.map(_._1).sorted
    val print = Fingerprint.ofPairs(expectedRows.iterator)
    Route(id, rootPath, s"/r/$id", 200, body, Expected("ok", print.rows, columns, print.hash))
  }

  private def withTechnical(root: String, payload: AnyRef): JMap[String, AnyRef] = {
    val env = new JMap[String, AnyRef]()
    env.put(root, payload)
    env.put("totalRegistros", Integer.valueOf(1))
    env.put("totalPaginas", Integer.valueOf(1))
    env.put("paginasRestantes", Integer.valueOf(0))
    val links = new JList[AnyRef](); links.add("self")
    env.put("links", links)
    env.put("dataHoraConsulta", "2026-01-30T12:00:00")
    env.put("timeZoneAtual", "-03:00")
    env.put("dataHoraAtualizacao", "2026-01-29")
    env
  }

  /** The generated config: one api on the loopback server and one
    * endpoint group per route, so each route keeps its own root path.
    */
  def toml(baseUrl: String, routes: Seq[Route]): String = {
    val sb = new StringBuilder
    sb ++= s"[bench]\nbase_url = \"$baseUrl\"\n"
    routes.foreach { r =>
      sb ++= s"\n[bench.endpoints.${r.id}]\n"
      r.rootPath.foreach(p => sb ++= s"root_path = \"$p\"\n")
      sb ++= s"data = \"${r.path}\"\n"
    }
    sb.result()
  }
}
