"""Namespace prefixes of the EML extractor come from the XML parser's
own declarations: text that merely looks like ``xmlns=`` (in an
attribute value, element text, a comment or the DOCTYPE) declares
nothing, and character references in a namespace URI are decoded."""

from __future__ import annotations

import io
import xml.etree.ElementTree as ET

import pytest

from spinneret_spark.extract import emlmeta

_EML = "https://eml.ecoinformatics.org/eml-2.2.0"

DOCS = {
    "attribute_value": (
        f'<eml:eml xmlns:eml="{_EML}" packageId="p.1" '
        'note=\'xmlns:fake="urn:q"\'>'
        '<dataset><q:dataTable xmlns:q="urn:q"><objectName>o'
        "</objectName></q:dataTable></dataset></eml:eml>"
    ),
    "element_text": (
        f'<eml:eml xmlns:eml="{_EML}" packageId="p.2"><dataset>'
        '<title>xmlns:txt="urn:q" and xmlns=\'urn:default\'</title>'
        '<q:dataTable xmlns:q="urn:q"><objectName>o</objectName>'
        "</q:dataTable></dataset></eml:eml>"
    ),
    "doctype_and_comment": (
        '<!DOCTYPE eml [<!ENTITY d "xmlns:dt=\'urn:q\'">]>'
        '<!-- xmlns:c="urn:q" -->'
        f'<eml:eml xmlns:eml="{_EML}" packageId="p.3"><dataset>'
        '<q:dataTable xmlns:q="urn:q"><objectName>o</objectName>'
        "</q:dataTable></dataset></eml:eml>"
    ),
    "char_reference": (
        f'<eml:eml xmlns:eml="{_EML}" packageId="p.4"><dataset>'
        '<q:dataTable xmlns:q="urn:a&amp;b&#x21;"><objectName>o'
        "</objectName></q:dataTable></dataset></eml:eml>"
    ),
}


def _reference_prefixes(doc: bytes) -> dict[str, str]:
    """uri → prefix from the parser's start-ns events, first prefix per
    URI winning."""
    ns_map: dict[str, str] = {}
    seen: set[str] = set()
    for _, (prefix, uri) in ET.iterparse(
        io.BytesIO(doc), events=("start-ns",)
    ):
        if uri not in seen:
            seen.add(uri)
            ns_map[prefix] = uri
    return {uri: p for p, uri in ns_map.items() if p}


@pytest.mark.parametrize("name", sorted(DOCS))
def test_prefix_map_equals_parser_declarations(name):
    doc = DOCS[name].encode()
    # the xpath names the dataTable by its declared prefix
    _, _, _, xpaths, _, _ = emlmeta.extract_workbook_columns(
        doc, ["dataTable"], "u:"
    )
    assert xpaths == ["/eml:eml/dataset/q:dataTable"]

    root, uri_to_prefix = emlmeta._parse_ns(doc)
    assert root.get("packageId") is not None
    assert uri_to_prefix == _reference_prefixes(doc)
