"""One reader for the declared encoding of an XML document.

The schema compiler, the schema-document validator and the instance
sniffers all read raw files on the driver; they share this module so a
declared ``encoding="CP1252"`` (the reference's menù-cp1252 case) is
honoured everywhere, and an unknown or malformed declaration falls back to
UTF-8 instead of raising ``LookupError``.
"""

from __future__ import annotations

import codecs
import os
import re
from typing import Union

# the declaration must open the document (optionally after a UTF-8 BOM);
# an ``encoding`` attribute anywhere else (``dataEncoding="base64"`` on a
# prolog-less root) is content, not a declaration
_DECL = re.compile(
    rb"""\A(?:\xef\xbb\xbf)?\s*<\?xml\b[^>]*?\bencoding\s*=\s*"""
    rb"""["']([A-Za-z][A-Za-z0-9._-]*)["']"""
)


def declared_encoding(path: Union[str, os.PathLike]) -> str:
    """The prolog's declared encoding if Python knows the codec, else
    ``'utf-8'`` (the XML default)."""
    with open(path, "rb") as f:
        m = _DECL.match(f.read(1024))
    if not m:
        return "utf-8"
    name = m.group(1).decode("ascii")
    try:
        codecs.lookup(name)
    except LookupError:
        return "utf-8"
    return name


def read_xml_text(path: Union[str, os.PathLike]) -> str:
    """The whole document decoded with its declared encoding; bytes that do
    not decode fall back to UTF-8 with replacement."""
    enc = declared_encoding(path)
    with open(path, "rb") as f:
        data = f.read()
    try:
        return data.decode(enc)
    except UnicodeDecodeError:
        return data.decode("utf-8", "replace")
