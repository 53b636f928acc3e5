"""XSD regular-expression dialect → Java-regex translation.

The reference delegates this to ``elementpath.translate_pattern``
(``xmlschema/validators/facets.py:745-759``).  This is a from-scratch minimal
translator for the subset a tabular transcript spec needs, with the same observable
semantics:

* **implicit anchoring**: an XSD pattern matches the *whole* value, so the translated
  pattern is wrapped ``^(?:...)$`` before being handed to ``rlike`` (which is a
  *search*, not a full match);
* multi-char escapes ``\\i`` ``\\I`` ``\\c`` ``\\C`` (XML name-start / name chars)
  expanded to explicit classes (ASCII + common unicode ranges — documented subset);
* ``.`` in XSD means "any char except newline" exactly like Java — passthrough;
* character-class subtraction ``[a-z-[aeiou]]`` lowered to Java's intersection
  ``[a-z&&[^aeiou]]``;
* XSD has no non-capturing-group/backreference/lookaround extensions — anything
  unsupported raises so specs fail at compile time on the driver, never on executors;
  so does a translation Java's regex engine rejects (an unclosed class or group, a
  reversed repetition range).
"""

from __future__ import annotations

import re

# XML NameStartChar / NameChar per XML 1.0 5th ed, restricted to the BMP — the
# same classes elementpath expands \i/\c into.  ':' IS a NameStartChar (the
# XML production includes it; NCName subtracts it back out with [\i-[:]]).
_NAME_START = (
    ":A-Z_a-z\\u00C0-\\u00D6\\u00D8-\\u00F6\\u00F8-\\u02FF\\u0370-\\u037D"
    "\\u037F-\\u1FFF\\u200C-\\u200D\\u2070-\\u218F\\u2C00-\\u2FEF"
    "\\u3001-\\uD7FF\\uF900-\\uFDCF\\uFDF0-\\uFFFD"
)
_NAME_CHAR = _NAME_START + "\\-.0-9\\u00B7\\u0300-\\u036F\\u203F-\\u2040"

_MULTI_CHAR_ESCAPES = {
    "i": f"[{_NAME_START}]",
    "I": f"[^{_NAME_START}]",
    "c": f"[{_NAME_CHAR}]",
    "C": f"[^{_NAME_CHAR}]",
}

# Single-char escapes / classes Java shares with XSD: pass through.
_PASSTHROUGH_ESCAPES = set("nrt\\|.?*+(){}[]^$-")

# XSD's char-class escapes differ from Java's defaults (XML Schema Part 2
# §F.1.1): \s is exactly [ \t\n\r] (Java adds \x0B\f), \d is \p{Nd} (Java's
# is ASCII [0-9]), \w is EVERYTHING minus punctuation/separators/other
# (Java's is [a-zA-Z0-9_]).  Positive forms splice into classes; negative
# forms nest as negated classes (legal Java nested-class union).
_CLASS_ESCAPES = {
    # esc: (standalone form, in-class splice)
    "s": ("[ \\t\\n\\r]", " \\t\\n\\r"),
    "S": ("[^ \\t\\n\\r]", "[^ \\t\\n\\r]"),
    "d": ("\\p{Nd}", "\\p{Nd}"),
    "D": ("[^\\p{Nd}]", "[^\\p{Nd}]"),
    "w": ("[^\\p{P}\\p{Z}\\p{C}]", "[^\\p{P}\\p{Z}\\p{C}]"),
    "W": ("[\\p{P}\\p{Z}\\p{C}]", "\\p{P}\\p{Z}\\p{C}"),
}


class XsdRegexError(ValueError):
    """Raised at plan-compile time for unsupported XSD regex constructs."""


def translate_pattern(pattern: str) -> str:
    """Translate one XSD regex to an equivalent (un-anchored) Java regex."""
    out: list[str] = []
    i, n = 0, len(pattern)
    in_class = False
    while i < n:
        ch = pattern[i]
        if ch == "\\":
            if i + 1 >= n:
                raise XsdRegexError(f"dangling backslash in {pattern!r}")
            esc = pattern[i + 1]
            if esc in _MULTI_CHAR_ESCAPES:
                if in_class:
                    # inside a class, splice the class body (strip brackets);
                    # negated forms can't be spliced soundly.
                    if esc in ("I", "C"):
                        raise XsdRegexError(
                            f"\\{esc} inside a character class is unsupported"
                        )
                    out.append(_MULTI_CHAR_ESCAPES[esc][1:-1])
                else:
                    out.append(_MULTI_CHAR_ESCAPES[esc])
            elif esc in _CLASS_ESCAPES:
                standalone, splice = _CLASS_ESCAPES[esc]
                out.append(splice if in_class else standalone)
            elif esc in _PASSTHROUGH_ESCAPES:
                out.append("\\" + esc)
            elif esc == "p" or esc == "P":
                # \p{...} unicode property — same syntax in Java, EXCEPT
                # block names: XSD spells blocks \p{IsBasicLatin}, Java
                # \p{InBasicLatin} (categories never start with "Is")
                m = re.match(r"[pP]\{([^}]+)\}", pattern[i + 1 :])
                if not m:
                    raise XsdRegexError(f"malformed \\p in {pattern!r}")
                prop = m.group(1)
                if prop.startswith("Is"):
                    prop = "In" + prop[2:]
                out.append(f"\\{m.group(0)[0]}{{{prop}}}")
                i += len(m.group(0)) + 1
                continue
            else:
                raise XsdRegexError(f"unsupported escape \\{esc} in {pattern!r}")
            i += 2
            continue
        if ch == "[":
            # look for XSD class subtraction [body-[sub]]
            in_class = True
            class_start = len(out)
            out.append(ch)
            i += 1
            continue
        if in_class and ch == "-" and i + 1 < n and pattern[i + 1] == "[":
            # subtraction [body-[sub]] → [[body]&&[^sub]].  The body is
            # wrapped as a NESTED class so a leading '^' negates only the
            # body: XSD's [^a-z-[0-9]] means (¬a-z) − 0-9, but Java's
            # whole-class negation would read [^a-z&&[^0-9]] as
            # ¬(a-z − 0-9).  The subtrahend recurses WITH its brackets so
            # nested subtraction ([a-z-[aeiou-[e]]]) keeps class context.
            depth, j = 1, i + 2
            while j < n and depth:
                if pattern[j] == "[":
                    depth += 1
                elif pattern[j] == "]":
                    depth -= 1
                j += 1
            sub = pattern[i + 2 : j - 1]
            inner = translate_pattern(f"[{sub}]")[1:-1]
            body = "".join(out[class_start + 1:])
            del out[class_start + 1:]
            out.append(f"[{body}]&&[^{inner}]")
            i = j
            continue
        if ch == "]":
            in_class = False
        if not in_class and ch in "^$":
            # XSD regexes have NO anchors (anchoring is implicit): a bare
            # ^ or $ outside a character class is a literal character
            out.append("\\" + ch)
            i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def anchor(java_pattern: str) -> str:
    """Wrap for full-match semantics (facets.py:755 uses re.fullmatch-style
    anchoring via translate_pattern).  ``\\A``/``\\z``, not ``^``/``$`` —
    Java's ``$`` matches BEFORE a final line terminator, so a value with a
    trailing newline would wrongly satisfy the pattern (issue_223's
    '38:36:000031\\n' must fail ``\\d{2}:\\d{2}:\\d{6,7}``)."""
    return f"\\A(?:{java_pattern})\\z"


def translate_and_anchor(pattern: str) -> str:
    """``pattern`` translated and anchored for ``rlike``.  Under an active
    SparkContext a translation Java's regex engine rejects (``[a-``,
    ``a{3,1}``) raises here, on the driver, instead of failing the job."""
    java = anchor(translate_pattern(pattern))
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import IllegalArgumentException

        try:
            sc._jvm.java.util.regex.Pattern.compile(java)
        # PatternSyntaxException, converted when a SparkSession installed
        # pyspark's exception handler
        except (Py4JJavaError, IllegalArgumentException):
            raise XsdRegexError(
                f"pattern {pattern!r}: Java's regex engine rejects its "
                f"translation {java!r}"
            ) from None
    return java
