"""SQL tokenizer for the Spark-SQL dialect subset used by the security layer.

Replaces the Calcite parser front-end of the reference
(``extensions/.../ParserImplExtension.java:67-76``) with a dependency-free
tokenizer feeding the recursive-descent parser in ``parser.py``.
"""

from __future__ import annotations

import array
import functools
import re
import sys
from typing import NamedTuple

# Token kinds
WORD = "WORD"            # bare identifier or keyword (case-insensitive)
QIDENT = "QIDENT"        # `backtick` or "double-quoted" identifier
STRING = "STRING"        # 'single-quoted' string literal (value is unescaped)
NUMBER = "NUMBER"        # numeric literal, kept verbatim as text
OP = "OP"                # punctuation / operator
EOF = "EOF"


class SqlTokenizeError(ValueError):
    pass


class Token(NamedTuple):
    kind: str
    value: str
    pos: int
    upper: str  # value.upper(), computed once: keywords are matched on it


def _char_class(chars: list[str]) -> str:
    """Regex class body for ``chars`` (non-ASCII, so nothing to escape),
    consecutive code points folded into ranges."""
    out: list[str] = []
    run: list[int] = []
    for cp in sorted(map(ord, chars)) + [-1]:
        if run and cp == run[-1] + 1:
            run.append(cp)
            continue
        if run:
            out.append(chr(run[0]) if len(run) == 1
                       else f"{chr(run[0])}-{chr(run[-1])}")
        run = [cp]
    return "".join(out)


@functools.cache
def _token_re() -> re.Pattern:
    """One pattern for every token, built on first use.

    The token rules are ``str`` predicates: a word starts with
    ``isalpha()``, ``_`` or ``$`` and goes on with ``isalnum()``, ``_`` or
    ``$``; a number is made of ``isdigit()`` characters. ``\\s`` and
    ``\\w`` match exactly ``isspace()`` and ``isalnum()`` or ``_``, but
    ``\\d`` is ``isdecimal()`` and ``[^\\W\\d_]`` also admits numerals that
    are not letters (``½``, ``Ⅷ``, ``²``). One pass over the code points
    finds those numerals, the digits among them and the letters that
    uppercase to a type-suffix letter (``ſ``), so the pattern answers as
    the predicates do on any input.
    """
    code = "utf-32-le" if sys.byteorder == "little" else "utf-32-be"
    every = array.array("I", range(0x80, sys.maxunicode + 1)).tobytes() \
        .decode(code, "surrogatepass")
    letters_or_numerals = re.findall(r"[^\W\d_]", every)
    numerals = [c for c in letters_or_numerals if not c.isalpha()]
    digits = _char_class([c for c in numerals if c.isdigit()])
    suffix = _char_class([c for c in letters_or_numerals if c.isalpha()
                          and c.upper() in ("L", "S", "Y", "D", "F")])
    d = rf"[\d{digits}]"
    # whitespace and comments before a token are part of its match
    return re.compile(rf"""
        (?:\s+|--[^\n]*|/\*.*?\*/)*
        (?:
          (?P<WORD>(?:[A-Za-z_$]|(?![{_char_class(numerals)}])[^\W\d])[\w$]*)
        | (?P<NUMBER>(?:{d}+(?:\.{d}*)?|\.{d}+)(?:[eE][+-]?{d}+)?
                     # Spark type suffix: 1L, 2.5D, 3S, 4Y, 10BD
                     (?:(?:[lLsSyYdDfF{suffix}]|[bB][dD])(?!\w))?)
        | (?P<open_comment>/\*)
        | (?P<OP><=>|<>|!=|>=|<=|==|\|\||::|->|[(),.+\-*/%<>=\[\]{{}}&|^~?:;])
        | (?P<STRING>'(?:[^']|'')*+')
        | (?P<BACKTICK>`(?:[^`]|``)*+`)
        | (?P<DQUOTE>"(?:[^"]|"")*+")
        | (?P<EOF>\Z)
        | (?P<bad>.)
        )
    """, re.VERBOSE | re.DOTALL)


_new_token = tuple.__new__  # Token(...) without the Python-level __new__


def tokenize(sql: str) -> list[Token]:
    out: list[Token] = []
    append = out.append
    for m in _token_re().finditer(sql):
        kind = m.lastgroup
        value = m.group(kind)
        pos = m.end() - len(value)
        if kind == WORD or kind == NUMBER:
            append(_new_token(Token, (kind, value, pos, value.upper())))
            continue
        if kind == OP:  # ASCII punctuation: its own uppercase
            append(_new_token(Token, (kind, value, pos, value)))
            continue
        if kind == EOF:
            append(_new_token(Token, (EOF, "", pos, "")))
            break
        if kind == "open_comment":
            raise SqlTokenizeError(f"unterminated block comment at {pos}")
        if kind == "bad":
            if value == "'":
                raise SqlTokenizeError(f"unterminated string literal at {pos}")
            if value in "`\"":
                raise SqlTokenizeError(
                    f"unterminated quoted identifier at {pos}")
            raise SqlTokenizeError(f"unexpected character {value!r} at {pos}")
        quote = value[0]  # STRING, BACKTICK or DQUOTE: a doubled quote escapes
        value = value[1:-1].replace(quote + quote, quote)
        append(_new_token(Token, (STRING if kind == STRING else QIDENT, value,
                                  pos, value.upper())))
    return out
