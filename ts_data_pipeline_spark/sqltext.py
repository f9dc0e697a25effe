r"""Quoting for caller strings spliced into Spark-SQL expression text.

Every string that reaches ``F.expr`` / ``filter`` / ``selectExpr``
text from outside the program goes through one of these two helpers,
so it can neither break the parse nor silently change meaning.

Spark 4.1 rules they encode:

- string literals unescape ``\`` sequences and an unknown escape drops
  the backslash (``'\d'`` reads ``d``), so ``\`` is doubled first and
  ``'`` is then written ``\'``;
- the parser rewrites ``${...}`` through SQL variable substitution
  (``'${env:HOME}'`` reads the home directory) before it lexes the
  text, so a literal's ``${`` is written ``\u0024{``, which the
  substitution does not match and the literal unescapes back to ``$``;
- inside backticks the only escape is a doubled backtick and nothing
  hides ``${`` there, so identifiers holding it are rejected.
"""

from __future__ import annotations


def sql_str(value: str) -> str:
    """``value`` as a Spark-SQL string literal that reads back exactly."""
    s = str(value).replace("\\", "\\\\").replace("'", "\\'")
    return "'" + s.replace("${", "\\u0024{") + "'"


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark-SQL identifier."""
    if "${" in name:
        raise ValueError(
            f"identifier {name!r} contains '${{', which Spark SQL variable "
            "substitution would rewrite"
        )
    return "`" + name.replace("`", "``") + "`"
