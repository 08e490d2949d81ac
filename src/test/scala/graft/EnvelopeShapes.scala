package graft

/** One envelope per shape of FIXTURES.md §1, keyed by route name, with
  * the rows it must normalize to. `list`, `struct`, `sparse` and the
  * two byte-array shapes unwrap `resultado`, `nested` unwraps `dados`,
  * `noroot` has no root_path.
  */
object EnvelopeShapes {
  val shapes: Map[String, (String, Long)] = Map(
    "list" -> (("""{"resultado":[
      |  {"codigoGrupo":10,"nomeGrupo":"MATERIAL X","statusGrupo":true},
      |  {"codigoGrupo":11,"nomeGrupo":"MATERIAL Y","statusGrupo":false}],
      |"totalRegistros":2,"totalPaginas":1,"paginasRestantes":0,"links":["self"],
      |"dataHoraConsulta":"2026-01-30T12:00:00","timeZoneAtual":"-03:00",
      |"dataHoraAtualizacao":"2026-01-29"}""".stripMargin, 2L)),
    "struct" -> (("""{"resultado":{"id":1,"nome":"unico"},"totalRegistros":1}""", 1L)),
    "nested" -> (("""{"dados":[{"id":1,"orgao":{"sigla":"A","uf":"SP"}},
      |{"id":2,"orgao":{"sigla":"B","uf":"RJ"}},{"id":3}],"links":[]}""".stripMargin, 3L)),
    "sparse" -> (("""{"resultado":[{"a":1},{"b":"x"},{"a":3,"c":true},{}]}""", 4L)),
    "bytes_int" -> (("""{"resultado":[{"nome":[77,97,195,167,195,163]},{"nome":[79,108,195,161]}]}""", 2L)),
    "bytes_double" -> (("""{"resultado":[{"nome":[77.0,97.0]},{"nome":[79.0,108.0,195.0,161.0]}],"totalPaginas":1}""", 2L)),
    "noroot" -> (("""[{"id":1,"v":"a"},{"id":2,"v":"b"},{"id":3,"v":"c"}]""", 3L)))
}
