"""EML/XML → annotation-workbook row extraction (stdlib only).

Reproduces the semantics of the reference's per-file extraction
(``/root/reference/src/spinneret/workbook.py:100-209``) without lxml:

* one input document yields N rows, one per element whose local tag is
  in the caller's ``elements`` whitelist, scanned in document order per
  element kind (reference loop at workbook.py:124-125);
* ``element_xpath`` reproduces lxml's ``ElementTree.getpath`` format —
  absolute, prefixed where the element is namespaced, with a 1-based
  ``[k]`` sibling index appended **only** when the parent has more than
  one child of the same tag (observed: ``/eml:eml/dataset/dataTable``
  vs ``/eml:eml/dataset/dataTable[1]`` in the reference fixture
  ``tests/annotation_workbook.tsv``);
* subject/context rules per workbook.py:164-209 — note the reference
  tests tag membership with ``tag in "dataset"`` (a substring test,
  workbook.py:197,204); for every tag the API admits
  (workbook.py:16-19) that behaves as equality, which is what we
  implement;
* ``package_id`` from the root's ``packageId`` attribute
  (workbook.py:121), ``url = base_url + package_id`` (workbook.py:122).

The extractor is deterministic: the nondeterministic per-row
``element_id`` (``uuid4`` at workbook.py:131) is *not* generated here —
the Spark layer adds it via ``F.uuid()`` alongside a deterministic
twin id (SURVEY.md §1.2).
"""

from __future__ import annotations

import io
import xml.etree.ElementTree as ET

# Column order of the reference workbook, minus the nondeterministic
# element_id which the Spark layer appends (workbook.py:144-159).
WORKBOOK_COLUMNS = [
    "package_id",
    "url",
    "element",
    "element_id",
    "element_xpath",
    "context",
    "subject",
    "predicate",
    "predicate_id",
    "object",
    "object_id",
    "author",
    "date",
    "comment",
]

# Entity-kind tags whose subject is their objectName (workbook.py:189-196)
ENTITY_TAGS = frozenset(
    [
        "dataTable",
        "otherEntity",
        "spatialVector",
        "spatialRaster",
        "storedProcedure",
        "view",
    ]
)


#: tag-string → local-name memo: ET interns the same qualified tag
#: strings across a document (and templated corpora repeat them across
#: documents), so the split is paid once per distinct tag, not once
#: per element visit — _local dominated the kernel profile before
#: (1M calls for 500 docs)
_LOCAL_CACHE: dict[str, str] = {}


def _local(tag: str) -> str:
    """Local name of a possibly `{uri}local` qualified ET tag."""
    loc = _LOCAL_CACHE.get(tag)
    if loc is None:
        loc = tag.rsplit("}", 1)[1] if tag.startswith("{") else tag
        _LOCAL_CACHE[tag] = loc
    return loc


def _ns_uri(tag: str) -> str | None:
    if tag.startswith("{"):
        return tag[1 : tag.index("}")]
    return None


def _parse_ns(xml_bytes: bytes):
    """Parse XML once: (root, uri→prefix map of the document's
    namespace declarations) — the prefix map lxml's getpath would
    print. Declarations come from the parser's own ``start-ns`` events,
    so an ``xmlns=`` inside an attribute value, element text, a
    comment or the DOCTYPE is never one, and character references in
    a URI are decoded. The first prefix declared per URI wins (lxml's
    document-order choice). Raises ``ET.ParseError`` on malformed
    input."""
    events = ET.iterparse(io.BytesIO(xml_bytes), events=("start-ns",))
    ns_map: dict[str, str] = {}
    seen_uris: set[str] = set()
    for _, (prefix, uri) in events:
        if uri not in seen_uris:
            seen_uris.add(uri)
            ns_map[prefix] = uri
    return events.root, {uri: p for p, uri in ns_map.items() if p}


def _findtext_descendant(elem, local_tag: str) -> str | None:
    """First descendant (document order) with the local tag → its text.

    Mirrors lxml ``findtext('.//tag')`` (workbook.py:202,205,207).
    """
    it = elem.iter()
    next(it)  # skip self: .// is descendant, not descendant-or-self
    for node in it:
        if _local(node.tag) == local_tag:
            return node.text if node.text is not None else ""
    return None


def _subject_and_context(elem, parent_map) -> tuple[str | None, str | None]:
    """Tag-dispatched subject/context rules (workbook.py:164-209)."""
    tag = _local(elem.tag)
    if tag == "dataset":
        # subject literal "dataset"; context = parent's packageId attr
        parent = parent_map.get(elem)
        context = parent.get("packageId") if parent is not None else None
        return "dataset", context
    if tag in ENTITY_TAGS:
        return _findtext_descendant(elem, "objectName"), "dataset"
    if tag == "attribute":
        subject = _findtext_descendant(elem, "attributeName")
        context = None
        node = parent_map.get(elem)
        while node is not None:  # iterancestors(entities): nearest first
            if _local(node.tag) in ENTITY_TAGS:
                context = _findtext_descendant(node, "objectName")
                break
            node = parent_map.get(node)
        return subject, context
    return None, None


def extract_workbook_columns(
    xml_bytes: bytes, elements: list[str], base_url: str
) -> tuple[str, str, list[str], list[str], list[str], list[str]]:
    """(package_id, url, element[], element_xpath[], context[],
    subject[]) for one EML document — the columnar core the Spark
    kernel consumes (the seven annotation columns are constant ``""``
    and materialized batch-wide there, not per row).

    One tree walk collects the parent map and the per-kind hit lists
    together; ``getpath`` memoizes each node's absolute path (hits
    share ancestors) and the sibling-disambiguation lists are cached
    per (parent, tag). Returns empty lists for unparseable documents
    (the distributed pipeline must not die on one bad page; failures
    are counted in lineage metrics instead).
    """
    nothing = ("", "", [], [], [], [])
    if isinstance(xml_bytes, str):
        xml_bytes = xml_bytes.encode("utf-8")
    try:
        root, uri_to_prefix = _parse_ns(xml_bytes)
    except ET.ParseError:
        return nothing
    pkg = root.get("packageId")
    if pkg is None:
        return nothing
    url = base_url + pkg  # workbook.py:122

    # one walk: parent links + document-order hits per element kind
    wanted = set(elements)
    parent_map: dict = {}
    hits: dict[str, list] = {el: [] for el in elements}
    for node in root.iter():
        lt = _local(node.tag)
        if lt in wanted:
            hits[lt].append(node)
        for child in node:
            parent_map[child] = node

    path_cache: dict = {}
    same_cache: dict = {}

    def seg(elem, parent) -> str:
        local = _local(elem.tag)
        uri = _ns_uri(elem.tag)
        name = (
            f"{uri_to_prefix[uri]}:{local}"
            if uri and uri in uri_to_prefix
            else local
        )
        if parent is None:
            return name
        key = (id(parent), elem.tag)
        same = same_cache.get(key)
        if same is None:
            same = [c for c in parent if c.tag == elem.tag]
            same_cache[key] = same
        if len(same) > 1:
            return f"{name}[{same.index(elem) + 1}]"
        return name

    def getpath(elem) -> str:
        p = path_cache.get(elem)
        if p is not None:
            return p
        parent = parent_map.get(elem)
        if parent is None:
            p = "/" + seg(elem, None)
        else:
            p = getpath(parent) + "/" + seg(elem, parent)
        path_cache[elem] = p
        return p

    els: list[str] = []
    xpaths: list[str] = []
    contexts: list[str] = []
    subjects: list[str] = []
    for element in elements:  # grouped per kind like workbook.py:124
        for e in hits[element]:
            subject, context = _subject_and_context(e, parent_map)
            els.append(element)
            xpaths.append(getpath(e))
            contexts.append(context if context is not None else "")
            subjects.append(subject if subject is not None else "")
    return pkg, url, els, xpaths, contexts, subjects


def extract_workbook_rows(
    xml_bytes: bytes, elements: list[str], base_url: str
) -> list[dict]:
    """All workbook rows for one EML document as dicts (the
    row-shaped convenience wrapper over
    :func:`extract_workbook_columns`).

    Output dicts carry every WORKBOOK_COLUMNS key except
    ``element_id``; annotation slots are ``""`` as in the reference
    (workbook.py:135-141). Returns ``[]`` for unparseable documents.
    """
    pkg, url, els, xpaths, contexts, subjects = extract_workbook_columns(
        xml_bytes, elements, base_url
    )
    return [
        {
            "package_id": pkg,
            "url": url,
            "element": el,
            "element_xpath": xp,
            "context": ctx,
            "subject": subj,
            "predicate": "",
            "predicate_id": "",
            "object": "",
            "object_id": "",
            "author": "",
            "date": "",
            "comment": "",
        }
        for el, xp, ctx, subj in zip(els, xpaths, contexts, subjects)
    ]
