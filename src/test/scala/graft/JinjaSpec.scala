package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sql.Jinja

/** The Jinja statement engine behind [[graft.sql.BigQueryDialect]]'s
  * renderJinja — dbt's everyday templating surface: if/elif/else, for
  * with loop.*, set, macro definitions + calls, var/env_var, config
  * capture, filters, comments, whitespace control. Everything outside
  * the documented surface must fail loudly (raw Jinja must never leak
  * into SQL). */
class JinjaSpec extends AnyFunSuite {

  private def r(t: String, vars: Map[String, String] = Map.empty,
      env: Map[String, String] = Map.empty,
      macros: Map[String, Jinja.MacroDef] = Map.empty): String =
    Jinja.render(t, vars, env, macros).text

  test("set binds for the rest of the template; expressions compose") {
    assert(r("{% set x = 'users' %}select * from {{ x }}")
      == "select * from users")
    // block form captures its rendered body as a string
    assert(r("{% set frag %}coalesce({{ var('c', 'x') }}, 0){% endset %}" +
      "select {{ frag }} as a, {{ frag }} as b")
      == "select coalesce(x, 0) as a, coalesce(x, 0) as b")
    assert(r("{% set n = 2 + 3 * 4 %}{{ n }}") == "14")
    assert(r("{% set s = 'a' ~ '_' ~ 'b' %}{{ s | upper }}") == "A_B")
    // set inside a for-loop frame does not leak out of the template
    // scope rules we document (rest-of-template at current level)
    assert(r("{% set x = 1 %}{% if true %}{{ x }}{% endif %}") == "1")
  }

  test("for: loop variable object, list literals, range, join filter") {
    assert(r("{% for c in ['a', 'b', 'c'] %}{{ c }}{% if not loop.last %}, {% endif %}{% endfor %}")
      == "a, b, c")
    assert(r("{% for i in range(3) %}{{ i }}{% endfor %}") == "012")
    assert(r("{% for i in range(1, 4) %}{{ i * i }} {% endfor %}").trim
      == "1 4 9")
    assert(r("{% for c in ['x', 'y'] %}{{ loop.index }}:{{ c }};{% endfor %}")
      == "1:x;2:y;")
    assert(r("{{ ['a', 'b', 'c'] | join(' + ') }}") == "a + b + c")
    // the classic dbt shape: generate a select list from a var
    val sql = r(
      "select {% for c in ['id', 'name', 'email'] %}trim({{ c }}) as {{ c }}{% if not loop.last %}, {% endif %}{% endfor %} from t")
    assert(sql == "select trim(id) as id, trim(name) as name, trim(email) as email from t")
  }

  test("elif chains, boolean operators, in, comparisons") {
    val t = "{% if var('e') == 'a' %}A{% elif var('e') == 'b' %}B{% elif var('e') == 'c' %}C{% else %}D{% endif %}"
    assert(r(t, Map("e" -> "a")) == "A")
    assert(r(t, Map("e" -> "b")) == "B")
    assert(r(t, Map("e" -> "c")) == "C")
    assert(r(t, Map("e" -> "zzz")) == "D")
    assert(r("{% if var('x') == 'p' and var('y') == 'q' %}t{% else %}f{% endif %}",
      Map("x" -> "p", "y" -> "q")) == "t")
    assert(r("{% if var('x') == 'p' or var('y') == 'q' %}t{% else %}f{% endif %}",
      Map("x" -> "no", "y" -> "q")) == "t")
    assert(r("{% if not var('missing', '') %}empty{% endif %}") == "empty")
    assert(r("{% if var('env') in ['dev', 'ci'] %}cheap{% else %}full{% endif %}",
      Map("env" -> "ci")) == "cheap")
    assert(r("{% if 2 < 3 and 3 <= 3 and 4 > 3 and 4 >= 4 and 1 != 2 %}y{% endif %}")
      == "y")
    // dbt --vars arrive as strings; numeric comparison still works
    assert(r("{% if var('n') > 5 %}big{% else %}small{% endif %}",
      Map("n" -> "7")) == "big")
  }

  test("macro: definition, call, defaults, kwargs, project-macro map") {
    val t = """{% macro pfx(col, p='x_') %}{{ p }}{{ col }}{% endmacro %}
              |select {{ pfx('a') }}, {{ pfx('b', 'y_') }}, {{ pfx(col='c', p='z_') }}""".stripMargin
    assert(r(t).contains("select x_a, y_b, z_c"))
    // a macro parsed from a macro FILE is callable from another template
    val macros = Jinja.parseMacros(
      "{% macro double(x) %}({{ x }} + {{ x }}){% endmacro %}")
    assert(r("select {{ double('v') }} from t", macros = macros)
      == "select (v + v) from t")
    // missing required arg fails loudly
    intercept[IllegalArgumentException](
      r("{{ double() }}", macros = macros))
    // macro files reject stray non-macro content
    intercept[IllegalArgumentException](
      Jinja.parseMacros("select 1; {% macro m() %}x{% endmacro %}"))
  }

  test("the reference's own macro file parses and its macro expands") {
    val src = try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/macros/utils.sql")), "UTF-8")
    catch { // the checkout, two levels above the macro file, is absent
      case e: java.nio.file.NoSuchFileException if !java.nio.file.Files.exists(
          java.nio.file.Paths.get(e.getFile).getParent.getParent) =>
        cancel(s"${java.nio.file.Paths.get(e.getFile).getParent.getParent} not present")
    }
    val macros = Jinja.parseMacros(src)
    assert(macros.contains("coalesce_trim"))
    val out = r("select {{ coalesce_trim('email', \"'missing'\") }} from u",
      macros = macros)
    assert(out.replaceAll("\\s+", " ").trim
      == "select coalesce(trim(email), 'missing') from u")
  }

  test("config() kwargs are captured and render empty") {
    val res = Jinja.render(
      "{{ config(materialized='table', tags='x') }}select 1")
    assert(res.text == "select 1")
    assert(res.config == Map("materialized" -> "table", "tags" -> "x"))
  }

  test("ref()/source() pass through verbatim for downstream DAG/translate") {
    assert(r("select * from {{ ref('base') }}")
      == "select * from {{ ref('base') }}")
    assert(r("select * from {{ source('raw', 'users') }}")
      == "select * from {{ source('raw', 'users') }}")
    // a ref built in a loop emits one tag per iteration
    val u = r("{% for m in ['a', 'b'] %}select * from {{ ref(m) }}{% if not loop.last %} union all {% endif %}{% endfor %}")
    assert(u == "select * from {{ ref('a') }} union all select * from {{ ref('b') }}")
  }

  test("comments, whitespace control, filters, default") {
    assert(r("a{# this is a comment #}b") == "ab")
    assert(r("a {#- c -#} b") == "ab")
    assert(r("{{ 'MiXeD' | lower }}{{ 'x' | upper }}") == "mixedX")
    assert(r("{{ '  pad  ' | trim }}") == "pad")
    assert(r("{{ ['a','b'] | length }}/{{ 'abc' | length }}") == "2/3")
    assert(r("{{ var('nope') | default('fallback') }}") == "fallback")
    assert(r("{{ var('set') | default('fallback') }}", Map("set" -> "v")) == "v")
  }

  test("unsupported surface fails loudly, never leaks raw tags") {
    for (bad <- Seq(
        "{% snapshot s %}{% endsnapshot %}",
        "{% if true %}unclosed",
        "{% for a, b in xs %}{% endfor %}",   // tuple unpacking
        "{% set a %}unclosed block set",       // missing {% endset %}
        "{% endset %}",
        "{{ unknown_fn(1) }}",
        "{{ undefined_ident }}",
        "{% endif %}"))
      withClue(bad) {
        intercept[IllegalArgumentException](r(bad))
      }
  }
}
