"""AutoCAD DXF vector source and sink (single "entities" layer).

Reference semantics (studied, re-expressed — no code copied):
- ogr/ogrsf_frmts/dxf/ogrdxflayer.cpp — entity translators: POINT (no OCS,
  :1020), LINE (:1080), LWPOLYLINE (:1166; vertex flush on repeated 10/20,
  constant elevation 38, closed flag 0x01), POLYLINE/VERTEX/SEQEND (:1306;
  polyface-mesh 128/64 vertex flags -> polygon soup, spline-frame
  vertices flag 16 skipped, OCS skipped when flag 8), CIRCLE (:1752,
  thickness extrusion out of scope -> flat ring), ELLIPSE (:1905; angles
  in radians NEGATED to degrees, OCS INVERSE-transform of center+major
  axis first), ARC (:2054, angles negated, start/end swapped), 3DFACE
  (:2416), SOLID (:2554; corners joined 1-2-4-3, degenerate corner
  collapse), DIMENSION fallback renderer (ogrdxf_dimension.cpp:38 —
  arrow-line intersection construction, extension lines, default
  arrowheads, <> label substitution), INSERT (:3357; MINSERT rows/cols,
  ATTRIB subfeatures, recursive inline expansion :3082 with
  rotate-scale -> OCS -> offset transform order, layer-0 adoption,
  ByBlock style resolution, merged GeometryCollection simplification
  :2799).
- ogr/ogrsf_frmts/dxf/ogrdxf_polyline_smooth.cpp — bulge tessellation:
  radius from sagitta, clockwise flip rules, OGR-angle conversion, arc
  endpoints forced onto the input vertices, joint vertices DUPLICATED
  (addSubLineString appends the full arc).
- ogr/ogrgeometryfactory.cpp:4449 approximateArcAngles — vertex count
  max(2, ceil(sweep/step)+1), angles negated (clockwise rotation),
  unrotated-ellipse sampling then rotate/translate, full-circle endpoint
  snap; default step 4 degrees (:4383, OGR_ARC_STEPSIZE).
- ogr/ogrsf_frmts/dxf/ogrdxf_ocstransformer.cpp — arbitrary-axis OCS
  basis (1/64 threshold) and its explicit inverse.
- ogr/ogrsf_frmts/dxf/ogrdxfdatasource.cpp — TABLES parsing: LAYER
  (:411 — negative 62 = off, flag 0x01 = frozen), LTYPE (:509 —
  same-sign run merging, odd-count fold, gap rotation), STYLE (:593 —
  1001/1000 ACAD font, 1071 bold/italic bits), DIMSTYLE; HEADER
  variables; BLOCKS base-point translation (ogrdxf_blockmap.cpp).
- ogr/ogrsf_frmts/dxf/ogrdxf_feature.cpp — GetColor resolution order
  (hidden/frozen -> entity color -> ByBlock -> ByLayer -> default 7,
  truecolor, transparency suffix) and ApplyOCSTransformer 2D->3D
  promotion/flatten rule.
- ogr/ogrsf_frmts/dxf/ogr_autocad_services.cpp — ACI color table
  (embedded below as data: the published AutoCAD Color Index palette,
  including GDAL's "7 plots poorly" black quirk), ACTextUnescape
  (%%c/%%d/%%p, caret controls, MTEXT \\P \\~ \\U+ format codes,
  braces, inline codes), ACAdjustText (LABEL token a/s/w/dx/dy
  adjustment on block insertion).

Out of scope (documented refusals / silent skips, matching the
reference's own ignore list where noted): binary DXF (refused), MLEADER
and the ASM entities 3DSOLID/BODY/REGION/SURFACE (skipped exactly like
the reference skips unknown entities), CIRCLE/ellipse thickness
extrusion (flat geometry), $DWGCODEPAGE values other than
ANSI_1252/UTF-8. SPLINE/HELIX, HATCH, LEADER, MLINE and WIPEOUT are
translated (`next_feature`).

Spark-first: DXF is a single-file interchange format — driver-side
parse (the shapefile/MIF sidecar contract), distributed feature table
in the engine's WKB + envelope schema. At 100 TB a tile-index of many
DXF files parallelizes per file; one file is inherently sequential
(entity order defines FIDs).
"""

from __future__ import annotations

import math
import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..geo import wkb as wkbmod

FEATURE_SCHEMA = ("fid long, layer string, subclasses string, "
                  "linetype string, entityhandle string, text string, "
                  "paperspace int, style string, kind string, wkb binary, "
                  "xmin double, ymin double, xmax double, ymax double")

#: AutoCAD Color Index palette, 256 RGB triplets (published standard
#: table; index 7 is black not white, matching the reference's plotting
#: quirk). Verified byte-for-byte against the reference in tests.
_ACI_HEX = (
    "000000ff0000ffff0000ff0000ffff0000ffff00ff0000007f7f7fbfbfbfff0000ff7f7f"
    "a50000a552527f00007f3f3f4c00004c2626260000261313ff3f00ff9f7fa52900a56752"
    "7f1f007f4f3f4c13004c2f26260900261713ff7f00ffbf7fa55200a57c527f3f007f5f3f"
    "4c26004c3926261300261c13ffbf00ffdf7fa57c00a591527f5f007f6f3f4c39004c4226"
    "261c00262113ffff00ffff7fa5a500a5a5527f7f007f7f3f4c4c004c4c26262600262613"
    "bfff00dfff7f7ca50091a5525f7f006f7f3f394c00424c261c26002126137fff00bfff7f"
    "52a5007ca5523f7f005f7f3f264c00394c261326001c26133fff009fff7f29a50067a552"
    "1f7f004f7f3f134c002f4c2609260017261300ff007fff7f00a50052a552007f003f7f3f"
    "004c00264c2600260013261300ff3f7fff9f00a52952a567007f1f3f7f4f004c13264c2f"
    "00260913261700ff7f7fffbf00a55252a57c007f3f3f7f5f004c26264c3900261313261c"
    "00ffbf7fffdf00a57c52a591007f5f3f7f6f004c39264c4200261c13262100ffff7fffff"
    "00a5a552a5a5007f7f3f7f7f004c4c264c4c00262613262600bfff7fdfff007ca55291a5"
    "005f7f3f6f7f00394c26424c001c26132126007fff7fbfff0052a5527ca5003f7f3f5f7f"
    "00264c26394c001326131c26003fff7f9fff0029a55267a5001f7f3f4f7f00134c262f4c"
    "0009261317260000ff7f7fff0000a55252a500007f3f3f7f00004c26264c000026131326"
    "3f00ff9f7fff2900a56752a51f007f4f3f7f13004c2f264c0900261713267f00ffbf7fff"
    "5200a57c52a53f007f5f3f7f26004c39264c1300261c1326bf00ffdf7fff7c00a59152a5"
    "5f007f6f3f7f39004c42264c1c0026211326ff00ffff7fffa500a5a552a57f007f7f3f7f"
    "4c004c4c264c260026261326ff00bfff7fdfa5007ca552917f005f7f3f6f4c00394c2642"
    "26001c261321ff007fff7fbfa50052a5527c7f003f7f3f5f4c00264c263926001326131c"
    "ff003fff7f9fa50029a552677f001f7f3f4f4c00134c262f260009261317545454767676"
    "989898bababadcdcdcffffff")
ACI_COLORS = np.frombuffer(bytes.fromhex(_ACI_HEX), np.uint8).reshape(256, 3)

DEFAULT_ARC_STEP_DEG = 4.0  # OGR_ARC_STEPSIZE default

#: Set > 0 to override the default 4-degree stroking step, mirroring
#: the OGR_ARC_STEPSIZE configuration option.
ARC_STEP_DEG_OVERRIDE = 0.0

# DIMSTYLE properties the dimension fallback needs, with AutoCAD's
# defaults (ogr_autocad_services.cpp:ACGetDimStylePropertyDefault).
_DIMSTYLE_CODES = {
    40: ("DIMSCALE", "1.0"), 41: ("DIMASZ", "0.18"),
    42: ("DIMEXO", "0.0625"), 44: ("DIMEXE", "0.18"),
    75: ("DIMSE1", "0"), 76: ("DIMSE2", "0"), 77: ("DIMTAD", "0"),
    140: ("DIMTXT", "0.18"), 147: ("DIMGAP", "0.09"),
    176: ("DIMCLRD", "0"), 178: ("DIMCLRT", "0"),
    271: ("DIMDEC", "4"), 341: ("DIMLDRBLK", ""),
}


def _atof(s: str) -> float:
    try:
        return float(s.strip() or 0.0)
    except ValueError:
        m = re.match(r"\s*[-+]?(\d+\.?\d*([eE][-+]?\d+)?)?", s)
        return float(m.group(0)) if m and m.group(0).strip() else 0.0


def _atoi(s: str) -> int:
    m = re.match(r"\s*([-+]?\d+)", s)
    return int(m.group(1)) if m else 0


# ------------------------------------------------------------ arc math

def approximate_arc_angles(cx, cy, z, r_primary, r_secondary, rotation_deg,
                           start_deg, end_deg, max_step_deg=0.0):
    """OGRGeometryFactory::approximateArcAngles re-expression
    (ogrgeometryfactory.cpp:4449): returns an (n, 3) float64 array.
    Angles are degrees clockwise-of-X-positive; internally negated."""
    if max_step_deg < 1e-6:
        max_step_deg = ARC_STEP_DEG_OVERRIDE or DEFAULT_ARC_STEP_DEG
    full_circle = abs(end_deg - start_deg) == 360.0
    a0, a1 = -start_deg, -end_deg
    n = max(2, int(math.ceil(abs(a1 - a0) / max_step_deg) + 1))
    step = (a1 - a0) / (n - 1)
    if full_circle:
        n -= 1
    ang = (a0 + np.arange(n, dtype=np.float64) * step) * (math.pi / 180.0)
    ex = np.cos(ang) * r_primary
    ey = np.sin(ang) * r_secondary
    rot = rotation_deg * math.pi / 180.0
    x = cx + ex * math.cos(rot) + ey * math.sin(rot)
    y = cy - ex * math.sin(rot) + ey * math.cos(rot)
    pts = np.column_stack([x, y, np.full(n, float(z))])
    if full_circle:
        pts = np.vstack([pts, pts[:1]])
    return pts


# ------------------------------------------------------- OCS transform

class OcsTransformer:
    """Arbitrary-axis OCS basis + explicit inverse
    (ogrdxf_ocstransformer.cpp)."""

    def __init__(self, normal):
        n = np.asarray(normal, np.float64).copy()
        ln = math.sqrt(float(n @ n))
        if ln != 0.0:
            n = n / ln
        small = 1.0 / 64.0
        ref = (np.array([0.0, 1.0, 0.0])
               if (abs(n[0]) < small and abs(n[1]) < small)
               else np.array([0.0, 0.0, 1.0]))
        ax = np.cross(ref, n)
        ln = math.sqrt(float(ax @ ax))
        if ln != 0.0:
            ax = ax / ln
        ay = np.cross(n, ax)
        ln = math.sqrt(float(ay @ ay))
        if ln != 0.0:
            ay = ay / ln
        self.m = np.column_stack([ax, ay, n])  # maps OCS -> WCS

    def transform(self, pts: np.ndarray) -> np.ndarray:
        return pts @ self.m.T

    def inverse(self, pts: np.ndarray) -> np.ndarray:
        det = float(np.linalg.det(self.m))
        if det == 0.0:
            return pts
        return pts @ np.linalg.inv(self.m).T


def _is_default_ocs(n) -> bool:
    return n[0] == 0.0 and n[1] == 0.0 and n[2] == 1.0


# ------------------------------------------------------------ geometry

def _walk(geom, fn):
    """Apply fn((n,3) array)->(n,3) to every coordinate array in a
    (kind, data) geometry; returns a new geometry."""
    kind, data = geom
    if kind == "point":
        return kind, fn(data.reshape(1, 3))[0]
    if kind in ("linestring", "multipoint"):
        return kind, fn(data)
    if kind == "polygon":
        return kind, [fn(r) for r in data]
    if kind == "multilinestring":
        return kind, [fn(a) for a in data]
    if kind == "multipolygon":
        return kind, [[fn(r) for r in rings] for rings in data]
    if kind == "collection":
        return kind, [_walk(g, fn) for g in data]
    raise ValueError(kind)


def _coords(geom):
    kind, data = geom
    if kind == "point":
        yield data.reshape(1, 3)
    elif kind in ("linestring", "multipoint"):
        yield data
    elif kind in ("polygon", "multilinestring"):
        yield from data
    elif kind == "multipolygon":
        for rings in data:
            yield from rings
    elif kind == "collection":
        for g in data:
            yield from _coords(g)


class Feat:
    """One translated DXF feature (mirrors OGRDXFFeature's surface)."""

    def __init__(self):
        self.fields = {"Layer": "0", "SubClasses": "", "Linetype": "",
                       "EntityHandle": "", "Text": "", "PaperSpace": None}
        self.props: dict[str, str] = {}   # style properties
        self.style: str | None = None
        self.geom = None                   # (kind, data) or None
        self.has_z = False
        self.ocs = np.array([0.0, 0.0, 1.0])
        self.attribute_tag = ""
        self.is_blockref = False
        self.block_name = ""
        self.block_angle = 0.0             # degrees
        self.block_scale = (1.0, 1.0, 1.0)
        self.block_coords = (0.0, 0.0, 0.0)

    def clone(self):
        f = Feat()
        f.fields = dict(self.fields)
        f.props = dict(self.props)
        f.style = self.style
        if self.geom is not None:
            f.geom = _walk(self.geom, lambda a: a.copy())
        f.has_z = self.has_z
        f.ocs = self.ocs.copy()
        f.attribute_tag = self.attribute_tag
        f.is_blockref = self.is_blockref
        f.block_name = self.block_name
        f.block_angle = self.block_angle
        f.block_scale = self.block_scale
        f.block_coords = self.block_coords
        return f

    def apply_ocs(self):
        """ApplyOCSTransformer: promote to 3D, transform, flatten back
        when the geometry was 2D and stays at z == 0
        (ogrdxf_feature.cpp:80)."""
        if self.geom is None or _is_default_ocs(self.ocs):
            return
        t = OcsTransformer(self.ocs)
        self.geom = _walk(self.geom, t.transform)
        if not self.has_z:
            zs = [a[:, 2] for a in _coords(self.geom)]
            if zs and any(float(np.max(np.abs(z))) != 0.0 for z in zs):
                self.has_z = True


# ------------------------------------------------------------- reader

_BINARY_SENTINEL = b"AutoCAD Binary DXF"


class _Pairs:
    """Group-code/value pair stream with one-slot unread (the reference
    reader's UnreadValue contract)."""

    def __init__(self, pairs):
        self.pairs = pairs
        self.i = 0

    def read(self):
        if self.i >= len(self.pairs):
            return -1, ""
        c, v = self.pairs[self.i]
        self.i += 1
        return c, v

    def unread(self):
        if self.i > 0:
            self.i -= 1

    def skip_entity(self):
        """Consume values until the next 0 code (exclusive)."""
        while True:
            c, v = self.read()
            if c <= 0:
                if c == 0:
                    self.unread()
                return


def _parse_pairs(path: str) -> list[tuple[int, str]]:
    raw = open(path, "rb").read()
    if raw.startswith(_BINARY_SENTINEL):
        raise NotImplementedError("binary DXF is not supported; "
                                  "convert to ASCII DXF")
    # $DWGCODEPAGE: ANSI_1252 default, approximated as latin-1 exactly
    # like the reference approximates it (ogr_autocad_services.cpp:35)
    enc = "latin-1"
    if re.search(rb"\$DWGCODEPAGE[\r\n\s]+3[\r\n\s]+(UTF-8|utf-8)", raw):
        enc = "utf-8"
    text = raw.decode(enc, errors="replace")
    lines = text.splitlines()
    pairs = []
    for i in range(0, len(lines) - 1, 2):
        code_s = lines[i].strip()
        if not code_s:
            continue
        try:
            code = int(code_s)
        except ValueError:
            continue
        if code == 999:  # comment
            continue
        pairs.append((code, lines[i + 1]))
    return pairs


class DxfFile:
    """Parsed DXF data source: header variables, tables, blocks, and the
    entity pair-window (mirrors OGRDXFDataSource)."""

    def __init__(self, path: str, inline_blocks: bool = True,
                 merge_block_geometries: bool = True,
                 closed_line_as_polygon: bool = False):
        self.inline_blocks = inline_blocks
        self.merge_block_geometries = merge_block_geometries
        self.closed_line_as_polygon = closed_line_as_polygon
        self.header: dict[str, str] = {}
        self.layers: dict[str, dict] = {}
        self.linetypes: dict[str, list[float]] = {}
        self.textstyles: dict[str, dict] = {}
        self.dimstyles: dict[str, dict] = {}
        self.blocks: dict[str, list[Feat]] = {}
        self.block_handles: dict[str, str] = {}
        self._insert_depth: list[str] = []

        pairs = _parse_pairs(path)
        self.rd = _Pairs(pairs)
        self._entities_start = 0
        self._read_structure()

    # ----- section scan

    def _read_structure(self):
        """Forgiving sequential section scan: the reference tolerates
        files missing the 0/SECTION introducers (text.dxf has a bare
        '2 ENTITIES' after ENDSEC — ogrdxfdatasource.cpp:240-330 checks
        each keyword independently)."""
        rd = self.rd
        # entities-only file? (test #3412): first 0-code is an entity
        first = rd.read()
        rd.unread()
        if first[0] == 0 and first[1].strip() not in ("SECTION",):
            self._entities_start = rd.i
            return
        while True:
            c, v = rd.read()
            if c < 0:
                break
            w = v.strip()
            if c == 2 and w == "HEADER":
                self._read_header()
            elif c == 2 and w == "TABLES":
                self._read_tables()
            elif c == 2 and w == "BLOCKS":
                self._read_blocks()
            elif c == 2 and w == "ENTITIES":
                self._entities_start = rd.i
                return

    def _read_header(self):
        rd = self.rd
        while True:
            c, v = rd.read()
            if c < 0 or (c == 0 and v.strip() == "ENDSEC"):
                return
            if c == 9:
                name = v.strip()
                c2, v2 = rd.read()
                if c2 < 0:
                    return
                self.header[name] = v2.strip()

    def _read_tables(self):
        rd = self.rd
        while True:
            c, v = rd.read()
            if c < 0 or (c == 0 and v.strip() == "ENDSEC"):
                return
            if c != 0:
                continue
            w = v.strip()
            if w == "LAYER":
                self._read_layer()
            elif w == "LTYPE":
                self._read_ltype()
            elif w == "STYLE":
                self._read_style()
            elif w == "DIMSTYLE":
                self._read_dimstyle()

    def _read_layer(self):
        rd = self.rd
        props = {"Hidden": "0"}
        name = ""
        while True:
            c, v = rd.read()
            if c <= 0:
                if c == 0:
                    rd.unread()
                break
            if c == 2:
                name = v.strip()
            elif c == 6:
                props["Linetype"] = v.strip()
            elif c == 62:
                props["Color"] = v.strip()
                if _atoi(v) < 0 and props["Hidden"] != "2":
                    props["Hidden"] = "1"
            elif c == 420:
                props["TrueColor"] = v.strip()
            elif c == 440:
                props["Transparency"] = v.strip()
            elif c == 70:
                if _atoi(v) & 0x01:
                    props["Hidden"] = "2"
            elif c in (370, 39):
                props["LineWeight"] = v.strip()
        self.layers[name] = props

    def _read_ltype(self):
        rd = self.rd
        name = ""
        vals: list[float] = []
        while True:
            c, v = rd.read()
            if c <= 0:
                if c == 0:
                    rd.unread()
                break
            if c == 2:
                name = v.strip()
            elif c == 49:
                x = _atof(v)
                # same-sign runs merge into one dash/gap
                if vals and (x < 0) == (vals[-1] < 0):
                    vals[-1] += x
                else:
                    vals.append(x)
        if len(vals) % 2 == 1:
            vals[0] += vals.pop()
        if vals:
            if vals[0] < 0:  # rotate so a dash leads
                vals = vals[1:] + vals[:1]
            self.linetypes[name] = vals

    def _read_style(self):
        rd = self.rd
        name = ""
        inside_acad = False
        props: dict[str, str] = {}
        while True:
            c, v = rd.read()
            if c <= 0:
                if c == 0:
                    rd.unread()
                break
            if c == 2:
                name = v.strip().upper()
            elif c == 70:
                if _atoi(v) & 1:  # shape file record, not a text style
                    return
            elif c == 41:
                props["Width"] = v.strip()
            elif c == 1001:
                inside_acad = v.strip() == "ACAD"
            elif c == 1000 and inside_acad:
                props["Font"] = v.strip()
            elif c == 1071 and inside_acad:
                flags = _atoi(v)
                props["Bold"] = "1" if flags & 0x2000000 else "0"
                props["Italic"] = "1" if flags & 0x1000000 else "0"
        if props:
            self.textstyles.setdefault(name, {}).update(props)

    def _read_dimstyle(self):
        rd = self.rd
        name = ""
        props = self.default_dimstyle()
        while True:
            c, v = rd.read()
            if c <= 0:
                if c == 0:
                    rd.unread()
                break
            if c == 2:
                name = v.strip()
            elif c in _DIMSTYLE_CODES:
                props[_DIMSTYLE_CODES[c][0]] = v.strip()
        self.dimstyles[name] = props

    def _read_blocks(self):
        rd = self.rd
        while True:
            c, v = rd.read()
            if c < 0 or (c == 0 and v.strip() == "ENDSEC"):
                return
            if c != 0 or v.strip() != "BLOCK":
                continue
            name = ""
            handle = ""
            base = np.zeros(3)
            while True:
                c, v = rd.read()
                if c <= 0:
                    if c == 0:
                        rd.unread()
                    break
                if c == 2:
                    name = v.strip()
                elif c == 330:
                    handle = v.strip()
                elif c == 10:
                    base[0] = -_atof(v)
                elif c == 20:
                    base[1] = -_atof(v)
                elif c == 30:
                    base[2] = -_atof(v)
            self.block_handles[handle] = name
            nxt = rd.read()
            rd.unread()
            if nxt[0] == 0 and nxt[1].strip() == "ENDBLK":
                continue
            # read entities (with inlining forced off) until ENDBLK
            lyr = _EntityReader(self, inline_blocks=False)
            feats = []
            while True:
                f = lyr.next_feature()
                if f is None:
                    break
                if f.geom is not None and base.any():
                    f.geom = _walk(f.geom, lambda a: a + base)
                if f.is_blockref and base.any():
                    bc = np.array(f.block_coords) + base
                    f.block_coords = (bc[0], bc[1], bc[2])
                feats.append(f)
            self.blocks[name] = feats

    # ----- lookups

    def default_dimstyle(self) -> dict:
        return {nm: dflt for nm, dflt in _DIMSTYLE_CODES.values()}

    def lookup_layer(self, layer: str, prop: str):
        return self.layers.get(layer, {}).get(prop)

    def lookup_linetype(self, name: str) -> list[float]:
        return self.linetypes.get(name, [])

    def lookup_textstyle(self, style: str, prop: str, default: str) -> str:
        return self.textstyles.get((style or "").upper(), {}).get(
            prop, default)

    def variable(self, name: str, default: str) -> str:
        return self.header.get(name, default)

    def push_block(self, name: str) -> bool:
        # recursion guard (reference: 128 deep / repeated-name cycles)
        if len(self._insert_depth) >= 128 or \
                self._insert_depth.count(name) >= 2:
            return False
        self._insert_depth.append(name)
        return True

    def pop_block(self):
        self._insert_depth.pop()


# -------------------------------------------------------- text escapes

def text_unescape(s: str, is_mtext: bool) -> str:
    """ACTextUnescape re-expression (ogr_autocad_services.cpp:25)."""
    out = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        low3 = s[i:i + 3].lower()
        if ch == "^" and i + 1 < n:
            nxt = s[i + 1]
            out.append("^" if nxt == " " else chr(ord(nxt.upper()) ^ 0x40))
            i += 2
            continue
        if low3 in ("%%c", "%%d", "%%p"):
            out.append({"%%c": "⌀", "%%d": "°",
                        "%%p": "±"}[low3])
            i += 3
            continue
        if not is_mtext and low3 in ("%%u", "%%o", "%%k"):
            i += 3
            continue
        out.append(ch)
        i += 1
    res = "".join(out)
    if not is_mtext:
        return res
    out = []
    i, n = 0, len(res)
    while i < n:
        ch = res[i]
        nxt = res[i + 1] if i + 1 < n else ""
        if ch == "\\" and nxt == "P":
            out.append("\n")
            i += 2
        elif ch == "\\" and nxt == "~":
            out.append(" ")
            i += 2
        elif ch == "\\" and nxt == "U" and res[i + 2:i + 3] == "+" \
                and len(res) - i >= 7:
            try:
                out.append(chr(int(res[i + 3:i + 7], 16)))
            except ValueError:
                pass
            i += 7
        elif ch in "{}":
            i += 1
        elif ch == "\\" and nxt in "WTAHFfCcQp":
            j = res.find(";", i)
            if j < 0:
                break
            i = j + 1
        elif ch == "\\" and nxt in "KkLlOo":
            i += 2
        elif ch == "\\" and nxt == "S":
            i += 2
            while i < n and res[i] != ";":
                if res[i] == "\\" and i + 1 < n and res[i + 1] in "^/#~":
                    out.append(res[i + 1])
                    i += 2
                elif res[i] not in "^/#~":
                    out.append(res[i])
                    i += 1
                else:
                    i += 1
            if i < n and res[i] == ";":
                i += 1
        elif ch == "\\" and nxt in "\\{}":
            out.append(nxt)
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


# ------------------------------------------------------------- styles

def _g(fmt: str, x: float) -> str:
    """C printf %.Ng formatting (matches CPLsnprintf)."""
    return fmt % x


def get_color(ds: DxfFile, feat: Feat, block_feat: Feat | None = None) -> str:
    """GetColor resolution (ogrdxf_feature.cpp:131)."""
    layer = feat.fields.get("Layer", "")
    hidden = 0
    if "Hidden" in feat.props or (block_feat and "Hidden" in
                                  block_feat.props):
        hidden = 1
        feat.props["Hidden"] = "1"
    else:
        h = ds.lookup_layer(layer, "Hidden")
        if h:
            hidden = _atoi(h)
        if not hidden and block_feat:
            bh = ds.lookup_layer(block_feat.fields.get("Layer", ""),
                                 "Hidden")
            if bh and _atoi(bh) == 2:
                hidden = 2
        if hidden == 2 and layer != "0":
            feat.props["Hidden"] = "1"

    BYLAYER, BYBLOCK, TRUECOLOR, BYLAYER_FORCE0 = 256, 0, -100, -101
    color = BYLAYER
    truecolor = 0
    if "TrueColor" in feat.props:
        truecolor = _atoi(feat.props["TrueColor"])
        color = TRUECOLOR
    elif "Color" in feat.props:
        color = _atoi(feat.props["Color"])

    method = (color & 0xFF000000) >> 24
    if method == 0xC0:
        color = BYLAYER
    elif method == 0xC1:
        color = BYBLOCK
    elif method == 0xC2:
        truecolor = color & 0xFFFFFF
        color = TRUECOLOR
    elif method == 0xC3:
        color &= 0xFF

    if color == BYBLOCK and block_feat:
        if "TrueColor" in block_feat.props:
            truecolor = _atoi(block_feat.props["TrueColor"])
            color = TRUECOLOR
            feat.props["TrueColor"] = block_feat.props["TrueColor"]
        elif "Color" in block_feat.props:
            color = _atoi(block_feat.props["Color"])
            feat.props["Color"] = block_feat.props["Color"]
        else:
            color = BYLAYER
            layer = block_feat.fields.get("Layer", "")
            feat.props["Color"] = str(BYLAYER_FORCE0)

    if color == BYLAYER_FORCE0:
        layer = (block_feat.fields.get("Layer", "") if block_feat else "0")
        color = BYLAYER

    if color == BYLAYER:
        tc = ds.lookup_layer(layer, "TrueColor")
        if tc:
            truecolor = _atoi(tc)
            color = TRUECOLOR
            if block_feat and layer != "0":
                feat.props["TrueColor"] = tc
        else:
            lc = ds.lookup_layer(layer, "Color")
            if lc:
                color = _atoi(lc)
                if block_feat and layer != "0":
                    feat.props["Color"] = lc

    if color != TRUECOLOR and (color < 1 or color > 255):
        color = 7

    if color == TRUECOLOR:
        res = "#%06x" % (truecolor & 0xFFFFFF)
    else:
        r, g, b = ACI_COLORS[color]
        res = "#%02x%02x%02x" % (r, g, b)

    if hidden:
        res += "00"
    else:
        opacity = -1
        if "Transparency" in feat.props:
            t = _atoi(feat.props["Transparency"])
            if t & 0x02000000:
                opacity = t & 0xFF
            elif (t & 0x01000000) and block_feat and \
                    "Transparency" in block_feat.props:
                opacity = _atoi(block_feat.props["Transparency"]) & 0xFF
                feat.props["Transparency"] = block_feat.props["Transparency"]
        else:
            lt = ds.lookup_layer(layer, "Transparency")
            if lt:
                opacity = _atoi(lt) & 0xFF
                if block_feat and layer != "0":
                    feat.props["Transparency"] = lt
        if opacity >= 0:
            res += "%02x" % (opacity & 0xFF)
    return res


def prepare_line_style(ds: DxfFile, feat: Feat,
                       block_feat: Feat | None = None):
    """PrepareLineStyle (ogrdxflayer.cpp:424)."""
    layer = feat.fields.get("Layer", "")
    weight = feat.props.get("LineWeight", "-1")
    if _atof(weight) == -2 and block_feat:
        if "LineWeight" in block_feat.props:
            weight = block_feat.props["LineWeight"]
            feat.props["LineWeight"] = weight
        else:
            weight = "-1"
    if _atof(weight) == -1:
        weight = ds.lookup_layer(layer, "LineWeight") or ""
    wt = _atof(weight) / 100.0 if weight else 0.0

    linetype = feat.fields.get("Linetype", "")
    if linetype and linetype.lower() == "byblock" and block_feat:
        linetype = block_feat.fields.get("Linetype", "")
        if linetype:
            feat.fields["Linetype"] = linetype
    if not linetype:
        linetype = ds.lookup_layer(layer, "Linetype") or ""
    pat_vals = ds.lookup_linetype(linetype)
    scale = _atof(ds.variable("$LTSCALE", "1.0"))
    if "LinetypeScale" in feat.props:
        scale *= _atof(feat.props["LinetypeScale"])
    pattern = " ".join(_g("%.11g", abs(x) * scale) + "g" for x in pat_vals)

    style = "PEN(c:" + get_color(ds, feat, block_feat)
    if wt > 0.0:
        style += ",w:" + _g("%.2g", wt) + "g"
    if pattern:
        style += ',p:"' + pattern + '"'
    style += ")"
    feat.style = style


def prepare_brush_style(ds: DxfFile, feat: Feat,
                        block_feat: Feat | None = None):
    """PrepareBrushStyle, minus the HATCH pattern ids the module's
    entity scope never produces (ogrdxflayer.cpp:290)."""
    fg = get_color(ds, feat, block_feat)
    style = "BRUSH(fc:" + fg
    if fg == "#00000000":
        style += ',id:"ogr-brush-1"'
    style += ")"
    feat.style = style


def prepare_feature_style(ds: DxfFile, feat: Feat,
                          block_feat: Feat | None = None):
    """PrepareFeatureStyle dispatch (ogrdxflayer.cpp:247)."""
    s = feat.style or ""
    if s.upper().startswith("BRUSH("):
        prepare_brush_style(ds, feat, block_feat)
    elif s.upper().startswith("LABEL("):
        new_color = get_color(ds, feat, block_feat)
        pos = s.rfind(",c:")
        if pos >= 0:
            end = len(s)
            for j in range(pos + 3, len(s)):
                if s[j] in ",)":
                    end = j
                    break
            feat.style = s[:pos + 3] + new_color + s[end:]
    else:
        prepare_line_style(ds, feat, block_feat)


def _label_tokens(style: str) -> list[str]:
    """Split LABEL(...) args on commas honoring double quotes."""
    inner = style[6:-1]
    toks, cur, inq = [], "", False
    i = 0
    while i < len(inner):
        c = inner[i]
        if c == '"' and (i == 0 or inner[i - 1] != "\\"):
            inq = not inq
            cur += c
        elif c == "," and not inq:
            toks.append(cur)
            cur = ""
        else:
            cur += c
        i += 1
    if cur:
        toks.append(cur)
    return toks


def adjust_text(angle_deg: float, scale_x: float, scale_y: float,
                feat: Feat):
    """ACAdjustText re-expression (ogr_autocad_services.cpp:590)."""
    if not feat.style or not feat.style.startswith("LABEL("):
        return
    toks = _label_tokens(feat.style)
    kv = {}
    order = []
    for t in toks:
        k, _, v = t.partition(":")
        kv[k] = v
        order.append(k)

    def setv(k, v):
        if k not in kv:
            order.append(k)
        kv[k] = v

    if angle_deg != 0.0:
        old = _atof(kv.get("a", "0"))
        setv("a", _g("%.3g", old + angle_deg))
    if scale_y != 1.0 and "s" in kv:
        old = _atof(kv["s"])
        setv("s", _g("%.3g", old * scale_y) + "g")
    if scale_x != scale_y and scale_y != 0.0:
        wf = scale_x / scale_y
        old = _atof(kv.get("w", "100"))
        setv("w", _g("%.4g", old * wf))
    if scale_x != 1.0 or scale_y != 1.0 or angle_deg != 0.0:
        dx = _atof(kv.get("dx", "0"))
        dy = _atof(kv.get("dy", "0"))
        if dx != 0.0 or dy != 0.0:
            a = angle_deg * math.pi / 180.0
            setv("dx", _g("%.6g", scale_x * dx * math.cos(a)
                          + scale_y * dy * -math.sin(a)) + "g")
            setv("dy", _g("%.6g", scale_x * dx * math.sin(a)
                          + scale_y * dy * math.cos(a)) + "g")
    feat.style = "LABEL(" + ",".join(
        k + ":" + kv[k] for k in order) + ")"


# ---------------------------------------------------- smooth polyline

class SmoothPolyline:
    """DXFSmoothPolyline re-expression (ogrdxf_polyline_smooth.cpp):
    vertices carry a bulge for the FOLLOWING segment; Tessellate strokes
    bulged segments through approximate_arc_angles with joint vertices
    duplicated, exactly like addSubLineString."""

    def __init__(self):
        self.v: list[list[float]] = []   # x, y, z, bulge
        self.dim = 2
        self.closed = False

    def add(self, x, y, z, bulge):
        self.v.append([x, y, z, bulge])

    def close(self):
        if len(self.v) >= 2 and not self.closed:
            if (self.v[-1][0] != self.v[0][0]
                    or self.v[-1][1] != self.v[0][1]):
                self.v.append(list(self.v[0]))
            self.closed = True

    def tessellate(self, as_polygon: bool):
        """Returns (kind, data, has_z)."""
        assert self.v
        if len(self.v) == 1:
            x, y, z, _ = self.v[0]
            has_z = not (z == 0 or self.dim == 2)
            return "point", np.array([x, y, z]), has_z
        pts: list[np.ndarray] = []
        started = False
        for i in range(len(self.v) - 1):
            x0, y0, z0, bulge = self.v[i]
            x1, y1, z1, _ = self.v[i + 1]
            length = math.hypot(x1 - x0, y1 - y0)
            if length == 0 or bulge == 0 or z0 != z1:
                if not started:
                    pts.append(np.array([[x0, y0, z0]]))
                    started = True
                pts.append(np.array([[x1, y1, z1]]))
            else:
                pts.append(self._arc(x0, y0, x1, y1, length, bulge, z0))
                started = True   # arc includes both endpoints
        arr = np.vstack(pts)
        has_z = self.dim == 3
        if self.closed and as_polygon:
            return "polygon", [arr], has_z
        return "linestring", arr, has_z

    @staticmethod
    def _arc(x0, y0, x1, y1, length, bulge, z):
        """EmitArc (ogrdxf_polyline_smooth.cpp:130): bulge -> sagitta ->
        center, OGR angle conventions with the clockwise/linedir flips."""
        h = (bulge * length) / 2.0
        radius = h / 2.0 + (length * length / (8.0 * h))
        r = abs(radius)
        clockwise = bulge < 0
        if clockwise:
            bulge = -bulge
        sagitta = abs(bulge * (length / 2.0))
        apothem = -(r - sagitta) if clockwise else -(sagitta - r)
        vx, vy = x0 - x1, y0 - y1
        mx, my = x1 + 0.5 * vx, y1 + 0.5 * vy
        px, py = vy, -vx
        pl = math.hypot(px, py)
        if pl != 0.0:
            px, py = px / pl, py / pl
        cx, cy = mx + px * apothem, my + py * apothem
        linedir = 1.0 if y1 > y0 else -1.0

        def ogr_angle(a):
            return -(a - 180.0) if a > 0.0 else -(a + 180.0)

        a = math.atan2(cy - y0, cx - x0) * 180.0 / math.pi
        if clockwise and linedir == 1.0:
            a += linedir * 180.0
        start = ogr_angle(a)
        a2 = math.atan2(cy - y1, cx - x1) * 180.0 / math.pi
        if clockwise and linedir == 1.0:
            a2 += linedir * 180.0
        end = ogr_angle(a2)
        if not clockwise and start < end:
            end = -180.0 + linedir * a2
        if clockwise and start > end:
            end += 360.0
        rotation = linedir * 180.0 if (clockwise and linedir == 1.0) else 0.0
        if abs(end - start) > 361.0:
            return np.array([[x0, y0, z], [x1, y1, z]])
        arc = approximate_arc_angles(cx, cy, z, r, r, rotation, start, end)
        if len(arc) >= 2:   # snap extremities onto the input vertices
            arc[0, 0], arc[0, 1] = x0, y0
            arc[-1, 0], arc[-1, 1] = x1, y1
        return arc


# ------------------------------------------------------ entity reader

class _EntityReader:
    """OGRDXFLayer re-expression: pulls (code, value) pairs from the
    shared stream and yields Feat objects, expanding INSERTs."""

    def __init__(self, ds: DxfFile, inline_blocks: bool | None = None):
        self.ds = ds
        self.inline = (ds.inline_blocks if inline_blocks is None
                       else inline_blocks)
        self.pending: list[Feat] = []
        self.ins = None   # insert state

    # ---- generic property translation (ogrdxflayer.cpp:117)

    def generic(self, f: Feat, c: int, v: str):
        if c == 8:
            f.fields["Layer"] = v.strip()
        elif c == 100:
            sub = f.fields["SubClasses"]
            f.fields["SubClasses"] = (sub + ":" if sub else "") + v.strip()
        elif c == 101:   # embedded object: eat the rest of the entity
            self.ds.rd.skip_entity()
        elif c == 60:
            if _atoi(v):
                f.props["Hidden"] = "1"
        elif c == 67:
            if _atoi(v):
                f.fields["PaperSpace"] = 1
        elif c == 62:
            f.props["Color"] = v.strip()
        elif c == 420:
            f.props["TrueColor"] = v.strip()
        elif c == 440:
            f.props["Transparency"] = v.strip()
        elif c == 6:
            f.fields["Linetype"] = v.strip()
        elif c == 48:
            f.props["LinetypeScale"] = v.strip()
        elif c in (370, 39):
            f.props["LineWeight"] = v.strip()
        elif c == 5:
            f.fields["EntityHandle"] = v.strip()
        elif c == 210:
            f.ocs[0] = _atof(v)
        elif c == 220:
            f.ocs[1] = _atof(v)
        elif c == 230:
            f.ocs[2] = _atof(v)

    def _consume(self, f: Feat, handlers: dict):
        """Read codes until the next 0, dispatching via handlers."""
        rd = self.ds.rd
        while True:
            c, v = rd.read()
            if c <= 0:
                if c == 0:
                    rd.unread()
                return
            h = handlers.get(c)
            if h is not None:
                h(v)
            else:
                self.generic(f, c, v)

    # ---- entity translators

    def t_point(self):
        f = Feat()
        st = {"x": 0.0, "y": 0.0, "z": 0.0, "hz": False}

        def sz(v):
            st["z"] = _atof(v)
            st["hz"] = True
        self._consume(f, {10: lambda v: st.update(x=_atof(v)),
                          20: lambda v: st.update(y=_atof(v)), 30: sz})
        f.geom = ("point", np.array([st["x"], st["y"], st["z"]]))
        f.has_z = st["hz"]
        prepare_line_style(self.ds, f)   # no OCS for POINT
        return f

    def t_line(self):
        f = Feat()
        st = {"x1": 0.0, "y1": 0.0, "z1": 0.0,
              "x2": 0.0, "y2": 0.0, "z2": 0.0, "hz": False}
        self._consume(f, {
            10: lambda v: st.update(x1=_atof(v)),
            20: lambda v: st.update(y1=_atof(v)),
            30: lambda v: st.update(z1=_atof(v), hz=True),
            11: lambda v: st.update(x2=_atof(v)),
            21: lambda v: st.update(y2=_atof(v)),
            31: lambda v: st.update(z2=_atof(v), hz=True)})
        f.geom = ("linestring", np.array(
            [[st["x1"], st["y1"], st["z1"]],
             [st["x2"], st["y2"], st["z2"]]]))
        f.has_z = st["hz"]
        prepare_line_style(self.ds, f)
        return f

    def t_lwpolyline(self):
        f = Feat()
        sp = SmoothPolyline()
        st = {"x": 0.0, "y": 0.0, "z": 0.0, "bulge": 0.0,
              "hx": False, "hy": False, "flag": 0}

        def flush():
            sp.add(st["x"], st["y"], st["z"], st["bulge"])
            st["bulge"] = 0.0

        def on10(v):
            if st["hx"] and st["hy"]:
                flush()
                st["hy"] = False
            st["x"] = _atof(v)
            st["hx"] = True

        def on20(v):
            if st["hx"] and st["hy"]:
                flush()
                st["hx"] = False
            st["y"] = _atof(v)
            st["hy"] = True

        def on38(v):
            st["z"] = _atof(v)
            sp.dim = 3

        self._consume(f, {10: on10, 20: on20, 38: on38,
                          42: lambda v: st.update(bulge=_atof(v)),
                          70: lambda v: st.update(flag=_atoi(v)),
                          90: lambda v: None})
        if st["hx"] and st["hy"]:
            flush()
        if not sp.v:
            return None
        closed = bool(st["flag"] & 0x01)
        if closed:
            sp.close()
        kind, data, has_z = sp.tessellate(
            closed and self.ds.closed_line_as_polygon)
        f.geom = (kind, data)
        f.has_z = has_z
        f.apply_ocs()
        prepare_line_style(self.ds, f)
        return f

    def t_polyline(self):
        f = Feat()
        st = {"flag": 0}
        self._consume(f, {70: lambda v: st.update(flag=_atoi(v))})
        if st["flag"] & 16:
            return None   # polygon mesh unsupported (reference skips too)
        rd = self.ds.rd
        sp = SmoothPolyline()
        mesh_polys: list[list[np.ndarray]] = []
        mesh_pts: list[np.ndarray] = []
        c, v = rd.read()
        while c == 0 and v.strip() != "SEQEND":
            if v.strip() != "VERTEX":
                rd.skip_entity()
                c, v = rd.read()
                continue
            x = y = z = bulge = 0.0
            vflag = 0
            idx = [0, 0, 0, 0]
            while True:
                c2, v2 = rd.read()
                if c2 <= 0:
                    if c2 == 0:
                        rd.unread()
                    break
                if c2 == 10:
                    x = _atof(v2)
                elif c2 == 20:
                    y = _atof(v2)
                elif c2 == 30:
                    z = _atof(v2)
                    sp.dim = 3
                elif c2 == 42:
                    bulge = _atof(v2)
                elif c2 == 70:
                    vflag = _atoi(v2)
                elif c2 in (71, 72, 73, 74):
                    idx[c2 - 71] = abs(_atoi(v2))
            if (vflag & 64) and (vflag & 128):
                mesh_pts.append(np.array([x, y, z]))
            if vflag == 128:
                ring = [mesh_pts[i - 1] for i in idx
                        if i != 0 and i <= len(mesh_pts)]
                if ring:
                    ring.append(ring[0])
                    mesh_polys.append([np.vstack(ring)])
            if (vflag & 16) == 0:   # skip spline frame points (#4683)
                sp.add(x, y, z, bulge)
            c, v = rd.read()
        if not sp.v:
            return None
        if mesh_polys:
            f.geom = ("multipolygon", mesh_polys)
            f.has_z = True
            prepare_brush_style(self.ds, f)
            return f
        closed = bool(st["flag"] & 0x01)
        if closed:
            sp.close()
        kind, data, has_z = sp.tessellate(
            closed and self.ds.closed_line_as_polygon)
        f.geom = (kind, data)
        f.has_z = has_z
        if (st["flag"] & 8) == 0:
            f.apply_ocs()
        prepare_line_style(self.ds, f)
        return f

    def t_circle(self):
        f = Feat()
        st = {"x": 0.0, "y": 0.0, "z": 0.0, "r": 0.0, "hz": False}
        self._consume(f, {10: lambda v: st.update(x=_atof(v)),
                          20: lambda v: st.update(y=_atof(v)),
                          30: lambda v: st.update(z=_atof(v), hz=True),
                          40: lambda v: st.update(r=_atof(v)),
                          39: lambda v: None})   # thickness: flat only
        pts = approximate_arc_angles(st["x"], st["y"], st["z"],
                                     st["r"], st["r"], 0.0, 0.0, 360.0)
        f.geom = ("linestring", pts)
        f.has_z = st["hz"]
        f.apply_ocs()
        prepare_line_style(self.ds, f)
        return f

    def t_ellipse(self):
        f = Feat()
        st = {"x": 0.0, "y": 0.0, "z": 0.0, "ax": 0.0, "ay": 0.0,
              "az": 0.0, "ratio": 0.0, "start": 0.0, "end": 360.0,
              "hz": False}
        self._consume(f, {
            10: lambda v: st.update(x=_atof(v)),
            20: lambda v: st.update(y=_atof(v)),
            30: lambda v: st.update(z=_atof(v), hz=True),
            11: lambda v: st.update(ax=_atof(v)),
            21: lambda v: st.update(ay=_atof(v)),
            31: lambda v: st.update(az=_atof(v)),
            40: lambda v: st.update(ratio=_atof(v)),
            41: lambda v: st.update(
                end=-1 * _atof(v) * 180.0 / math.pi),
            42: lambda v: st.update(
                start=-1 * _atof(v) * 180.0 / math.pi)})
        apply_ocs = False
        if not _is_default_ocs(f.ocs):
            t = OcsTransformer(f.ocs)
            ctr = t.inverse(np.array([[st["x"], st["y"], st["z"]]]))[0]
            ax = t.inverse(np.array([[st["ax"], st["ay"], st["az"]]]))[0]
            st["x"], st["y"], st["z"] = ctr
            st["ax"], st["ay"], st["az"] = ax
            apply_ocs = True
        prim = math.sqrt(st["ax"] ** 2 + st["ay"] ** 2 + st["az"] ** 2)
        sec = st["ratio"] * prim
        rot = -1 * math.atan2(st["ay"], st["ax"]) * 180.0 / math.pi
        if st["start"] > st["end"]:
            st["end"] += 360.0
        if abs(st["end"] - st["start"]) > 361.0:
            return None
        pts = approximate_arc_angles(st["x"], st["y"], st["z"], prim, sec,
                                     rot, st["start"], st["end"])
        f.geom = ("linestring", pts)
        f.has_z = st["hz"]
        if apply_ocs:
            f.apply_ocs()
        prepare_line_style(self.ds, f)
        return f

    def t_arc(self):
        f = Feat()
        st = {"x": 0.0, "y": 0.0, "z": 0.0, "r": 0.0,
              "start": 0.0, "end": 360.0, "hz": False}
        self._consume(f, {
            10: lambda v: st.update(x=_atof(v)),
            20: lambda v: st.update(y=_atof(v)),
            30: lambda v: st.update(z=_atof(v), hz=True),
            40: lambda v: st.update(r=_atof(v)),
            50: lambda v: st.update(end=-1 * _atof(v)),
            51: lambda v: st.update(start=-1 * _atof(v))})
        if st["start"] > st["end"]:
            st["end"] += 360.0
        if abs(st["end"] - st["start"]) > 361.0:
            return None
        pts = approximate_arc_angles(st["x"], st["y"], st["z"], st["r"],
                                     st["r"], 0.0, st["start"], st["end"])
        f.geom = ("linestring", pts)
        f.has_z = st["hz"]
        f.apply_ocs()
        prepare_line_style(self.ds, f)
        return f

    def t_3dface(self):
        f = Feat()
        p = np.zeros((4, 3))

        def setter(i, j):
            return lambda v: p.__setitem__((i, j), _atof(v))
        handlers = {}
        for i, (cx, cy, cz) in enumerate([(10, 20, 30), (11, 21, 31),
                                          (12, 22, 32), (13, 23, 33)]):
            handlers[cx] = setter(i, 0)
            handlers[cy] = setter(i, 1)
            handlers[cz] = setter(i, 2)
        self._consume(f, handlers)
        ring = [p[0], p[1], p[2]]
        if not np.array_equal(p[3], p[2]):
            ring.append(p[3])
        ring.append(ring[0])
        f.geom = ("polygon", [np.vstack(ring)])
        f.has_z = True
        f.apply_ocs()
        prepare_line_style(self.ds, f)
        return f

    def t_solid(self):
        f = Feat()
        p = np.zeros((4, 3))

        def setter(i, j):
            return lambda v: p.__setitem__((i, j), _atof(v))
        handlers = {}
        for i, (cx, cy, cz) in enumerate([(10, 20, 30), (11, 21, 31),
                                          (12, 22, 32), (13, 23, 33)]):
            handlers[cx] = setter(i, 0)
            handlers[cy] = setter(i, 1)
            handlers[cz] = setter(i, 2)
        self._consume(f, handlers)
        want_z = bool(np.any(p[:, 2] != 0.0))
        uniq = np.unique(p, axis=0)
        if len(uniq) == 1:
            f.geom = ("point", uniq[0].copy())
            f.has_z = want_z
            prepare_line_style(self.ds, f)
        elif len(uniq) == 2:
            order = np.lexsort((p[:, 1], p[:, 0]))
            su = p[order]
            keep = [su[0]]
            for row in su[1:]:
                if not np.array_equal(row, keep[-1]):
                    keep.append(row)
            f.geom = ("linestring", np.vstack(keep[:2]))
            f.has_z = want_z
            prepare_line_style(self.ds, f)
        else:
            # corners join 1-2-4-3 (#7089) with degenerate collapse
            ring = [p[0]]
            if not np.array_equal(p[0], p[1]):
                ring.append(p[1])
            if not np.array_equal(p[1], p[3]):
                ring.append(p[3])
            if not np.array_equal(p[3], p[2]):
                ring.append(p[2])
            ring.append(ring[0])
            f.geom = ("polygon", [np.vstack(ring)])
            f.has_z = want_z
            prepare_brush_style(self.ds, f)
        f.apply_ocs()
        return f

    # ---- text entities

    @staticmethod
    def _escape_quotes(s: str) -> str:
        return s.replace('"', '\\"')

    def t_mtext(self):
        f = Feat()
        st = {"x": 0.0, "y": 0.0, "z": 0.0, "hz": False, "angle": 0.0,
              "height": 0.0, "dirx": 0.0, "attach": -1, "style": "STANDARD",
              "text": ""}

        def on21(v):
            st["angle"] = math.atan2(_atof(v), st["dirx"]) * 180.0 / math.pi

        def add_text(v):
            st["text"] += text_unescape(v, True)

        self._consume(f, {
            10: lambda v: st.update(x=_atof(v)),
            20: lambda v: st.update(y=_atof(v)),
            30: lambda v: st.update(z=_atof(v), hz=True),
            40: lambda v: st.update(height=_atof(v)),
            71: lambda v: st.update(attach=_atoi(v)),
            11: lambda v: st.update(dirx=_atof(v)),
            21: on21,
            1: add_text, 3: add_text,
            50: lambda v: st.update(angle=_atof(v)),
            7: lambda v: st.update(style=v.strip())})
        # no OCS for MTEXT (#7049)
        f.geom = ("point", np.array([st["x"], st["y"], st["z"]]))
        f.has_z = st["hz"]
        text = st["text"]
        if text.endswith("\n"):
            text = text[:-1]
        f.fields["Text"] = text
        esc = self._escape_quotes(text)
        style = 'LABEL(f:"' + self.ds.lookup_textstyle(
            st["style"], "Font", "Arial") + '"'
        if self.ds.lookup_textstyle(st["style"], "Bold", "0") == "1":
            style += ",bo:1"
        if self.ds.lookup_textstyle(st["style"], "Italic", "0") == "1":
            style += ",it:1"
        style += ',t:"' + esc + '"'
        if st["angle"] != 0.0:
            style += ",a:" + _g("%.3g", st["angle"])
        if st["height"] != 0.0:
            style += ",s:" + _g("%.3g", st["height"]) + "g"
        width = self.ds.lookup_textstyle(st["style"], "Width", "1")
        if _atof(width) != 1.0:
            style += ",w:" + _g("%.4g", _atof(width) * 100.0)
        if 0 <= st["attach"] <= 9:
            amap = [-1, 7, 8, 9, 4, 5, 6, 1, 2, 3]
            style += ",p:%d" % amap[st["attach"]]
        style += ",c:" + get_color(self.ds, f) + ")"
        f.style = style
        return f

    def t_text(self, is_attrib: bool):
        f = Feat()
        st = {"x": 0.0, "y": 0.0, "z": 0.0, "hz": False, "alignx": 0.0,
              "aligny": 0.0, "has_align": False, "angle": 0.0,
              "height": 0.0, "widthf": 1.0, "text": "",
              "style": "STANDARD", "halign": 0, "valign": 0}

        def on70(v):
            if is_attrib:
                n = _atoi(v)
                if n & 1:
                    f.props["Hidden"] = "1"
                elif n & 2:
                    f.attribute_tag = ""

        def on2(v):
            if is_attrib:
                f.attribute_tag = v.strip().replace(" ", "_")

        handlers = {
            10: lambda v: st.update(x=_atof(v)),
            20: lambda v: st.update(y=_atof(v)),
            11: lambda v: st.update(alignx=_atof(v)),
            21: lambda v: st.update(aligny=_atof(v), has_align=True),
            30: lambda v: st.update(z=_atof(v), hz=True),
            40: lambda v: st.update(height=_atof(v)),
            41: lambda v: st.update(widthf=_atof(v)),
            1: lambda v: st.update(text=st["text"]
                                   + text_unescape(v, False)),
            50: lambda v: st.update(angle=_atof(v)),
            72: lambda v: st.update(halign=_atoi(v)),
            7: lambda v: st.update(style=v.strip()),
            2: on2, 70: on70,
        }
        if is_attrib:
            handlers[74] = lambda v: st.update(valign=_atoi(v))
        else:
            handlers[73] = lambda v: st.update(valign=_atoi(v))
        self._consume(f, handlers)
        f.geom = ("point", np.array([st["x"], st["y"], st["z"]]))
        f.has_z = st["hz"]
        f.apply_ocs()
        anchor = 1
        if st["halign"] > 0 or st["valign"] > 0:
            anchor = {1: 10, 2: 4, 3: 7}.get(
                st["valign"], 5 if st["halign"] == 4 else 1)
            if st["halign"] < 3:
                anchor += st["halign"]
        f.fields["Text"] = st["text"]
        esc = self._escape_quotes(st["text"])
        style = 'LABEL(f:"' + self.ds.lookup_textstyle(
            st["style"], "Font", "Arial") + '"'
        if self.ds.lookup_textstyle(st["style"], "Bold", "0") == "1":
            style += ",bo:1"
        if self.ds.lookup_textstyle(st["style"], "Italic", "0") == "1":
            style += ",it:1"
        style += ',t:"' + esc + '",p:%d' % anchor
        if st["angle"] != 0.0:
            style += ",a:" + _g("%.3g", st["angle"])
        if st["height"] != 0.0:
            style += ",s:" + _g("%.3g", st["height"]) + "g"
        if st["widthf"] != 1.0:
            style += ",w:" + _g("%.4g", st["widthf"] * 100.0)
        if st["has_align"] and st["alignx"] != st["x"]:
            style += ",dx:" + _g("%.6g", st["alignx"] - st["x"]) + "g"
        if st["has_align"] and st["aligny"] != st["y"]:
            style += ",dy:" + _g("%.6g", st["aligny"] - st["y"]) + "g"
        style += ",c:" + get_color(self.ds, f) + ")"
        f.style = style
        return f

    # ---- dimension fallback (ogrdxf_dimension.cpp:38)

    def t_dimension(self):
        f = Feat()
        st = {"ax1": 0.0, "ay1": 0.0, "tx1": 0.0, "ty1": 0.0,
              "tx2": 0.0, "ty2": 0.0, "textx": 0.0, "texty": 0.0,
              "text": None, "block": None}
        dimprops = self.ds.default_dimstyle()
        rd = self.ds.rd
        while True:
            c, v = rd.read()
            if c <= 0:
                if c == 0:
                    rd.unread()
                break
            if c == 2:
                st["block"] = v.strip()
            elif c == 3:
                dimprops.update(self.ds.dimstyles.get(
                    v.strip(), self.ds.default_dimstyle()))
            elif c == 10:
                st["ax1"] = _atof(v)
            elif c == 20:
                st["ay1"] = _atof(v)
            elif c == 11:
                st["textx"] = _atof(v)
            elif c == 21:
                st["texty"] = _atof(v)
            elif c == 13:
                st["tx2"] = _atof(v)
            elif c == 23:
                st["ty2"] = _atof(v)
            elif c == 14:
                st["tx1"] = _atof(v)
            elif c == 24:
                st["ty1"] = _atof(v)
            elif c == 1:
                st["text"] = v
            elif c in (30, 31, 33, 34, 70):
                pass
            elif c == 1070:
                code = _atoi(v)
                if code in _DIMSTYLE_CODES:
                    c2, v2 = rd.read()
                    if c2 in (1005, 1040, 1070):
                        dimprops[_DIMSTYLE_CODES[code][0]] = v2.strip()
                    else:
                        rd.unread()
            else:
                self.generic(f, c, v)

        if st["block"]:
            try:
                return self.insert_block_inline(
                    st["block"], _InsertXform(), f, merge=False)
            except KeyError:
                pass

        scale = _atof(dimprops["DIMSCALE"])
        asz = _atof(dimprops["DIMASZ"])
        exe = _atof(dimprops["DIMEXE"])
        exo = _atof(dimprops["DIMEXO"])
        want1 = _atoi(dimprops["DIMSE1"]) == 0
        want2 = _atoi(dimprops["DIMSE2"]) == 0
        txt_h = _atof(dimprops["DIMTXT"])
        prec = _atoi(dimprops["DIMDEC"])
        centered = _atoi(dimprops["DIMTAD"]) == 0
        txt_color = dimprops["DIMCLRT"]

        ax1, ay1 = st["ax1"], st["ay1"]
        tx1, ty1, tx2, ty2 = st["tx1"], st["ty1"], st["tx2"], st["ty2"]
        v1x, v1y = ax1 - tx1, ay1 - ty1
        ln = math.hypot(v1x, v1y)
        if ln > 0.0:
            v1x, v1y = v1x / ln, v1y / ln
        v2x, v2y = v1y, -v1x
        if v1x == 0.0 and v1y == 0.0:
            ax2, ay2 = tx2, ty2
        elif v1x == 0.0:
            ax2, ay2 = tx2, ay1
        elif v1y == 0.0:
            ax2, ay2 = ax1, ty2
        else:
            m1 = v1y / v1x
            b1 = ty2 - m1 * tx2
            m2 = v2y / v2x
            b2 = ay1 - m2 * ax1
            ax2 = (b2 - b1) / (m1 - m2)
            ay2 = m2 * ax2 + b2

        lines = [np.array([[ax1, ay1, 0.0], [ax2, ay2, 0.0]])]
        self._insert_arrowhead(f, lines[0], asz * scale, False)
        self._insert_arrowhead(f, lines[0], asz * scale, True)
        ext1 = np.array([[tx1 + v1x * exo, ty1 + v1y * exo, 0.0],
                         [ax1 + v1x * exe, ay1 + v1y * exe, 0.0]])
        if want1 and np.linalg.norm(ext1[1, :2] - ext1[0, :2]) > 0.0:
            lines.append(ext1)
        ext2 = np.array([[tx2 + v1x * exo, ty2 + v1y * exo, 0.0],
                         [ax2 + v1x * exe, ay2 + v1y * exe, 0.0]])
        if want2 and np.linalg.norm(ext2[1, :2] - ext2[0, :2]) > 0.0:
            lines.append(ext2)
        f.geom = ("multilinestring", lines)
        f.has_z = False
        prepare_line_style(self.ds, f)

        text = st["text"]
        if text == " ":   # a single space suppresses labeling
            return f
        label = f.clone()
        label.geom = ("point", np.array([st["textx"], st["texty"], 0.0]))
        label.has_z = False
        if not text:
            text = "<>"
        if "<>" in text:
            dim = "%.*f" % (min(max(prec, 0), 20),
                            math.hypot(ax2 - ax1, ay2 - ay1))
            text = text.replace("<>", dim, 1)
        text = text_unescape(text, True)
        label.fields["Text"] = text
        style = 'LABEL(f:"Arial",t:"' + text + '"'
        style += ",p:11" if centered else ",p:5"
        angle = (-90.0 if ax1 == ax2
                 else math.atan((ay1 - ay2) / (ax1 - ax2)) * 180.0 / math.pi)
        if angle != 0.0:
            style += ",a:" + _g("%.3g", angle)
        if txt_h != 0.0:
            style += ",s:" + _g("%.3g", txt_h * scale) + "g"
        label.props["Color"] = txt_color
        style += ",c:" + get_color(self.ds, label, f) + ")"
        label.style = style
        self.pending.append(label)
        return f

    def _insert_arrowhead(self, f: Feat, line: np.ndarray, size: float,
                          reverse: bool):
        """InsertArrowhead, default filled-triangle arrowhead only
        (ogrdxf_leader.cpp:1049,1089)."""
        p1 = line[-1] if reverse else line[0]
        p2 = line[-2] if reverse else line[1]
        seg = math.hypot(p2[0] - p1[0], p2[1] - p1[1])
        if size == 0.0 or seg == 0.0 or size > 0.5 * seg:
            return
        ah = f.clone()
        s = size / seg
        par = np.array([s * (p2[0] - p1[0]), s * (p2[1] - p1[1])])
        perp = np.array([par[1], -par[0]])
        ring = np.array([
            [p1[0] + par[0] + perp[0] / 6, p1[1] + par[1] + perp[1] / 6,
             p1[2]],
            [p1[0], p1[1], p1[2]],
            [p1[0] + par[0] - perp[0] / 6, p1[1] + par[1] - perp[1] / 6,
             p1[2]],
        ])
        ring = np.vstack([ring, ring[:1]])
        ah.geom = ("polygon", [ring])
        ah.has_z = True
        prepare_brush_style(self.ds, ah)
        self.pending.append(ah)

    # ---- INSERT machinery

    def t_insert(self) -> bool:
        f = Feat()
        x = _InsertXform()
        st = {"block": "", "cols": 1, "rows": 1, "colsp": 0.0,
              "rowsp": 0.0, "has_attribs": False}
        rd = self.ds.rd
        while True:
            c, v = rd.read()
            if c <= 0:
                break
            if c == 10:
                x.ox = _atof(v)
            elif c == 20:
                x.oy = _atof(v)
            elif c == 30:
                x.oz = _atof(v)
            elif c == 41:
                x.sx = _atof(v)
            elif c == 42:
                x.sy = _atof(v)
            elif c == 43:
                x.sz = _atof(v)
            elif c == 44:
                st["colsp"] = _atof(v)
            elif c == 45:
                st["rowsp"] = _atof(v)
            elif c == 50:
                x.angle = _atof(v) * math.pi / 180.0
            elif c == 66:
                st["has_attribs"] = _atoi(v) == 1
            elif c == 70:
                st["cols"] = max(_atoi(v), 0)
            elif c == 71:
                st["rows"] = max(_atoi(v), 0)
            elif c == 2:
                st["block"] = v.strip()
            else:
                self.generic(f, c, v)
        if st["rows"] == 0 or st["cols"] == 0:
            st["rows"] = st["cols"] = 1
        attribs: list[Feat] = []
        if st["has_attribs"]:
            while c == 0 and v.strip() != "SEQEND":
                if v.strip() != "ATTRIB":
                    return False
                af = self.t_text(True)
                if af is not None and af.attribute_tag:
                    attribs.append(af)
                c, v = rd.read()
        elif c == 0:
            rd.unread()
        self.ins = {"template": f, "xform": x, "block": st["block"],
                    "cols": st["cols"], "rows": st["rows"],
                    "colsp": st["colsp"], "rowsp": st["rowsp"],
                    "icol": 0, "irow": 0, "attribs": attribs}
        return True

    def _generate_insert(self) -> bool:
        ins = self.ins
        f = ins["template"].clone()
        x0 = ins["xform"]
        dx = (ins["icol"] * ins["colsp"] * math.cos(x0.angle)
              + ins["irow"] * ins["rowsp"] * -math.sin(x0.angle))
        dy = (ins["icol"] * ins["colsp"] * math.sin(x0.angle)
              + ins["irow"] * ins["rowsp"] * math.cos(x0.angle))
        x = x0.copy()
        x.ox += dx
        x.oy += dy
        if not self.inline:
            self._block_reference(ins["block"], x, f)
            self.pending.append(f)
            return True
        mark = len(self.pending)
        try:
            out = self.insert_block_inline(
                ins["block"], x, f,
                merge=self.ds.merge_block_geometries)
        except KeyError:
            return False
        if out is not None:
            # the merged feature precedes the block's unmerged (text)
            # features, matching GenerateINSERTFeatures' queue order
            self.pending.insert(mark, out)
        for attr in ins["attribs"]:
            af = attr.clone()
            if af.geom is not None:
                off = _InsertXform()
                off.ox, off.oy = dx, dy
                af.geom = _walk(af.geom, off.apply)
            self.pending.append(af)
        return True

    @staticmethod
    def _block_reference(name: str, x: "_InsertXform", f: Feat):
        f.is_blockref = True
        f.block_name = name
        f.block_angle = x.angle * 180.0 / math.pi
        f.block_scale = (x.sx, x.sy, x.sz)
        f.block_coords = (x.ox, x.oy, x.oz)
        pt = np.array([x.ox, x.oy, x.oz])
        if not _is_default_ocs(f.ocs):
            pt = OcsTransformer(f.ocs).transform(pt.reshape(1, 3))[0]
        f.geom = ("point", pt)
        f.has_z = True

    def insert_block_inline(self, name: str, x: "_InsertXform",
                            f: Feat, merge: bool, recursive: bool = True):
        """InsertBlockInline (ogrdxflayer.cpp:3082). Features except
        text merge into one geometry; the rest land on self.pending.
        Raises KeyError when the block doesn't exist."""
        ds = self.ds
        if not ds.push_block(name):
            return None
        try:
            ins_pt = np.array([x.ox, x.oy, x.oz])
            if not _is_default_ocs(f.ocs):
                ins_pt = OcsTransformer(f.ocs).transform(
                    ins_pt.reshape(1, 3))[0]
            x = x.copy()
            x.ox, x.oy, x.oz = ins_pt
            if name not in ds.blocks:
                raise KeyError(name)
            merged: list = []
            merged_z = False
            extra: list[Feat] = []
            inner_extra: list[Feat] = []
            for sub0 in ds.blocks[name]:
                sub = sub0.clone()
                if f.fields.get("PaperSpace"):
                    sub.fields["PaperSpace"] = 1
                if recursive and sub.is_blockref:
                    ix = _InsertXform()
                    ix.ox, ix.oy, ix.oz = sub.block_coords
                    ix.angle = sub.block_angle * math.pi / 180.0
                    ix.sx, ix.sy, ix.sz = sub.block_scale
                    sub.is_blockref = False
                    try:
                        sub = self._inline_into(
                            sub.block_name, ix, sub, merge, inner_extra)
                    except KeyError:
                        continue
                    if sub is None:
                        if not inner_extra:
                            continue
                        sub = inner_extra.pop(0)
                while True:
                    if sub.geom is not None:
                        rs = x.rotate_scale()
                        sub.geom = _walk(sub.geom, rs.apply)
                        if not _is_default_ocs(f.ocs):
                            t = OcsTransformer(f.ocs)
                            sub.geom = _walk(sub.geom, t.transform)
                            if not sub.has_z:
                                zs = [a[:, 2] for a in _coords(sub.geom)]
                                if zs and any(float(np.max(np.abs(z)))
                                              != 0.0 for z in zs):
                                    sub.has_z = True
                        off = x.offset_only()
                        sub.geom = _walk(sub.geom, off.apply)
                    is_text = (sub.style or "").find("LABEL") >= 0
                    if merge and not is_text and not sub.is_blockref \
                            and sub.geom is not None:
                        merged.append(sub.geom)
                        merged_z = merged_z or sub.has_z
                    elif not recursive or sub.attribute_tag == "":
                        if sub.fields.get("Layer", "") == "0" and \
                                f.fields.get("Layer", ""):
                            sub.fields["Layer"] = f.fields["Layer"]
                        prepare_feature_style(ds, sub, f)
                        adjust_text(x.angle * 180.0 / math.pi,
                                    x.sx, x.sy, sub)
                        if f.fields.get("EntityHandle", ""):
                            sub.fields["EntityHandle"] = \
                                f.fields["EntityHandle"]
                        extra.append(sub)
                    if not inner_extra:
                        break
                    sub = inner_extra.pop(0)
            self.pending.extend(extra)
            if merge and merged:
                f.geom = _simplify_block_geometry(merged)
                f.has_z = merged_z
                prepare_line_style(ds, f)
                return f
            return None
        finally:
            ds.pop_block()

    def _inline_into(self, name, ix, sub, merge, inner_extra):
        """Recursive insert: run insert_block_inline but capture its
        pending output into inner_extra instead of self.pending."""
        keep = self.pending
        self.pending = []
        try:
            out = self.insert_block_inline(name, ix, sub, merge)
            inner_extra.extend(self.pending)
        finally:
            self.pending = keep
        return out

    # ---- main loop (GetNextUnfilteredFeature)

    def next_feature(self) -> Feat | None:
        rd = self.ds.rd
        while True:
            if self.pending:
                return self.pending.pop(0)
            if self.ins is not None and \
                    self.ins["irow"] < self.ins["rows"]:
                if self.ins["icol"] == self.ins["cols"]:
                    self.ins["irow"] += 1
                    self.ins["icol"] = 0
                    if self.ins["irow"] == self.ins["rows"]:
                        self.ins = None
                        continue
                if self._generate_insert():
                    self.ins["icol"] += 1
                else:
                    self.ins = None
                continue
            self.ins = None
            # read ahead to the next entity keyword
            while True:
                c, v = rd.read()
                if c <= 0:
                    break
            if c < 0:
                return None
            w = v.strip()
            if w in ("ENDSEC", "ENDBLK"):
                return None
            feat = None
            if w == "POINT":
                feat = self.t_point()
            elif w == "MTEXT":
                feat = self.t_mtext()
            elif w == "TEXT":
                feat = self.t_text(False)
            elif w in ("ATTDEF",):
                feat = self.t_text(True)
            elif w == "LINE":
                feat = self.t_line()
            elif w == "POLYLINE":
                feat = self.t_polyline()
            elif w == "LWPOLYLINE":
                feat = self.t_lwpolyline()
            elif w == "CIRCLE":
                feat = self.t_circle()
            elif w == "ELLIPSE":
                feat = self.t_ellipse()
            elif w == "ARC":
                feat = self.t_arc()
            elif w == "3DFACE":
                feat = self.t_3dface()
            elif w == "INSERT":
                if not self.t_insert():
                    return None
                continue
            elif w == "DIMENSION":
                feat = self.t_dimension()
            elif w in ("SOLID", "TRACE"):
                feat = self.t_solid()
            elif w in ("SPLINE", "HELIX"):
                feat = self.t_spline()
            elif w == "HATCH":
                feat = self.t_hatch()
            elif w == "WIPEOUT":
                feat = self.t_wipeout()
            elif w == "LEADER":
                feat = self.t_leader()
            elif w == "MLINE":
                feat = self.t_mline()
            # MLEADER/3DSOLID/BODY/REGION/SURFACE
            # are skipped like the reference's ignored-entity path
            # (their pairs are consumed lazily by the next read-ahead
            # loop)
            if feat is not None:
                return feat


class _InsertXform:
    """OGRDXFInsertTransformer: scale, rotate, then translate
    (ogr_dxf.h:172)."""

    def __init__(self):
        self.ox = self.oy = self.oz = 0.0
        self.sx = self.sy = self.sz = 1.0
        self.angle = 0.0   # radians

    def copy(self):
        t = _InsertXform()
        t.__dict__.update(self.__dict__)
        return t

    def rotate_scale(self):
        t = _InsertXform()
        t.sx, t.sy, t.sz, t.angle = self.sx, self.sy, self.sz, self.angle
        return t

    def offset_only(self):
        t = _InsertXform()
        t.ox, t.oy, t.oz = self.ox, self.oy, self.oz
        return t

    def apply(self, pts: np.ndarray) -> np.ndarray:
        x = pts[:, 0] * self.sx
        y = pts[:, 1] * self.sy
        z = pts[:, 2] * self.sz
        ca, sa = math.cos(self.angle), math.sin(self.angle)
        xn = x * ca - y * sa
        yn = x * sa + y * ca
        return np.column_stack([xn + self.ox, yn + self.oy, z + self.oz])


def _simplify_block_geometry(geoms: list):
    """SimplifyBlockGeometry (ogrdxflayer.cpp:2799): one geometry
    passes through; homogeneous points/linestrings collapse to multi-;
    mixed stays a collection."""
    if len(geoms) == 1:
        return geoms[0]
    kinds = {k for k, _ in geoms}
    if kinds == {"point"}:
        return "multipoint", np.vstack([d.reshape(1, 3)
                                        for _, d in geoms])
    if kinds == {"linestring"}:
        return "multilinestring", [d for _, d in geoms]
    if kinds == {"polygon"}:
        return "multipolygon", [d for _, d in geoms]
    return "collection", geoms


# ---------------------------------------------------------- public API

def parse_dxf(path: str, inline_blocks: bool = True,
              merge_block_geometries: bool = True,
              closed_line_as_polygon: bool = False) -> list[dict]:
    """Parse a DXF file into feature dicts (driver-side)."""
    ds = DxfFile(path, inline_blocks, merge_block_geometries,
                 closed_line_as_polygon)
    ds.rd.i = ds._entities_start
    rdr = _EntityReader(ds)
    rows = []
    fid = 0
    while True:
        f = rdr.next_feature()
        if f is None:
            break
        row = {"fid": fid, "layer": f.fields["Layer"],
               "subclasses": f.fields["SubClasses"],
               "linetype": f.fields["Linetype"],
               "entityhandle": f.fields["EntityHandle"],
               "text": f.fields["Text"],
               "paperspace": f.fields["PaperSpace"],
               "style": f.style, "geom": f.geom, "has_z": f.has_z}
        if f.is_blockref:
            # DXF_INLINE_BLOCKS=FALSE surface (ogrdxflayer.cpp:3040):
            # the INSERT stays a point feature carrying the reference
            row.update(blockname=f.block_name,
                       blockangle=f.block_angle,
                       blockscale=list(f.block_scale),
                       blockocscoords=list(f.block_coords))
        rows.append(row)
        fid += 1
    return rows


def parse_dxf_blocks(path: str) -> dict[str, list[dict]]:
    """The 'blocks' layer surface (DXF_INLINE_BLOCKS=FALSE,
    ogrdxfblockslayer.cpp:96): each block inserted at the origin with
    identity transform, geometries merged, nested INSERTs NOT expanded
    (bInlineRecursively=false); features keyed by block name in
    definition order."""
    ds = DxfFile(path, inline_blocks=False)
    out: dict[str, list[dict]] = {}
    for name in ds.blocks:
        rdr = _EntityReader(ds, inline_blocks=False)
        try:
            merged = rdr.insert_block_inline(
                name, _InsertXform(), Feat(),
                merge=ds.merge_block_geometries, recursive=False)
        except KeyError:
            continue
        feats = ([merged] if merged is not None else []) + rdr.pending
        rows = []
        for f in feats:
            rows.append({"block": name, "layer": f.fields["Layer"],
                         "subclasses": f.fields["SubClasses"],
                         "text": f.fields["Text"], "style": f.style,
                         "geom": f.geom, "has_z": f.has_z,
                         "attribute_tag": f.attribute_tag})
        out[name] = rows
    return out


def _geom_wkb(geom, has_z: bool) -> tuple[str, bytes, tuple]:
    kind, data = geom
    allc = np.vstack(list(_coords(geom)))
    env = (float(allc[:, 0].min()), float(allc[:, 1].min()),
           float(allc[:, 0].max()), float(allc[:, 1].max()))

    def cut(a):
        return a if has_z else a[:, :2]
    if kind == "point":
        d = data if has_z else data[:2]
        return kind, wkbmod.encode_point(*[float(t) for t in d]), env
    if kind == "linestring":
        return kind, wkbmod.encode_linestring(cut(data)), env
    if kind == "polygon":
        return kind, wkbmod.encode_polygon([cut(r) for r in data]), env
    if kind == "multipoint":
        return kind, wkbmod.encode_multipoint(cut(data)), env
    if kind == "multilinestring":
        return kind, wkbmod.encode_multilinestring(
            [cut(a) for a in data]), env
    if kind == "multipolygon":
        return kind, wkbmod.encode_multipolygon(
            [[cut(r) for r in rings] for rings in data]), env
    if kind == "collection":
        parts = [_geom_wkb(g, has_z)[1] for g in data]
        return kind, wkbmod.encode_collection(parts), env
    raise ValueError(kind)


def read_dxf(spark: SparkSession, path: str, inline_blocks: bool = True,
             merge_block_geometries: bool = True,
             closed_line_as_polygon: bool = False) -> DataFrame:
    """Read a DXF file into the engine's feature-table schema."""
    rows = []
    for r in parse_dxf(path, inline_blocks, merge_block_geometries,
                       closed_line_as_polygon):
        if r["geom"] is None:
            kind, wkb, env = None, None, (None,) * 4
        else:
            kind, wkb, env = _geom_wkb(r["geom"], r["has_z"])
            if r["has_z"]:
                kind += " z"
        rows.append((r["fid"], r["layer"], r["subclasses"], r["linetype"],
                     r["entityhandle"], r["text"], r["paperspace"],
                     r["style"], kind, bytearray(wkb) if wkb else None,
                     *env))
    return spark.createDataFrame(rows, FEATURE_SCHEMA)


# -------------------------------------------------------------- writer

def _w(code: int, value) -> str:
    return "%3d\n%s\n" % (code, value)


def write_dxf(df: DataFrame, path: str):
    """Write POINT / LINESTRING / TEXT features as a minimal
    entities-only ASCII DXF (the reader's #3412 path). Expects columns
    (layer string, kind string, wkb binary[, text string]); coordinates
    render at %.17g so a write->read roundtrip is bit-exact."""
    cols = df.columns
    out = ["  0\nSECTION\n  2\nENTITIES\n"]
    handle = 0x100
    for row in df.toLocalIterator():
        layer = getattr(row, "layer", "0") or "0"
        kind = (row.kind or "").lower().replace(" z", "")
        text = getattr(row, "text", None) if "text" in cols else None
        got = wkbmod.decode_z(bytes(row.wkb))
        gkind, data, has_z = got[0], got[1], got[2]
        handle += 1
        if text is not None and gkind == "point":
            x, y = float(data[0]), float(data[1])
            z = float(data[2]) if has_z else 0.0
            out.append("  0\nTEXT\n" + _w(5, "%X" % handle)
                       + _w(8, layer) + _w(10, "%.17g" % x)
                       + _w(20, "%.17g" % y) + _w(30, "%.17g" % z)
                       + _w(40, "1.0") + _w(1, text))
        elif gkind == "point":
            x, y = float(data[0]), float(data[1])
            z = float(data[2]) if has_z else 0.0
            ent = ("  0\nPOINT\n" + _w(5, "%X" % handle) + _w(8, layer)
                   + _w(10, "%.17g" % x) + _w(20, "%.17g" % y))
            if has_z:
                ent += _w(30, "%.17g" % z)
            out.append(ent)
        elif gkind == "linestring":
            arr = np.asarray(data, np.float64)
            ent = ("  0\nLWPOLYLINE\n" + _w(5, "%X" % handle)
                   + _w(8, layer) + _w(90, len(arr)) + _w(70, 0))
            for p in arr:
                ent += _w(10, "%.17g" % p[0]) + _w(20, "%.17g" % p[1])
            out.append(ent)
        else:
            raise NotImplementedError(
                f"write_dxf supports point/linestring/text rows, "
                f"got {kind or gkind!r}")
    out.append("  0\nENDSEC\n  0\nEOF\n")
    with open(path, "w") as fh:
        fh.write("".join(out))


# ------------------------------------------------------- NURBS spline

def _nurbs_open_knots(npts: int, order: int) -> np.ndarray:
    """Open uniform knot vector with end multiplicity = order
    (intronurbs.cpp:knot)."""
    n = npts + order
    x = np.zeros(n)
    for i in range(1, n):
        if i + 1 > order and i + 1 < npts + 2:
            x[i] = x[i - 1] + 1.0
        else:
            x[i] = x[i - 1]
    return x


def _nurbs_basis(order: int, t: float, npts: int,
                 knots: np.ndarray) -> np.ndarray:
    """Cox-de-Boor nonrational basis with the reference's zero-denominator
    and end-point conventions (intronurbs.cpp:basis)."""
    nplusc = npts + order
    N = np.zeros(nplusc)
    for i in range(nplusc - 1):
        N[i] = 1.0 if (knots[i] <= t < knots[i + 1]) else 0.0
    for k in range(2, order + 1):
        for i in range(nplusc - k):
            d = 0.0
            e = 0.0
            if N[i] != 0:
                denom = knots[i + k - 1] - knots[i]
                if denom != 0:
                    d = ((t - knots[i]) * N[i]) / denom
            if N[i + 1] != 0:
                denom = knots[i + k] - knots[i + 1]
                if denom != 0:
                    e = ((knots[i + k] - t) * N[i + 1]) / denom
            N[i] = d + e
    if t == knots[nplusc - 1]:
        N[npts - 1] = 1.0
    return N[:npts]


def nurbs_interpolate(ctrl: np.ndarray, order: int, weights: np.ndarray,
                      knots: np.ndarray | None, n_out: int) -> np.ndarray:
    """rbspline2 re-expression (intronurbs.cpp:279): sample the rational
    B-spline at n_out evenly spaced parameter values, snapping the final
    samples onto the last knot within the 5e-6-span epsilon."""
    npts = len(ctrl)
    if knots is None:
        knots = _nurbs_open_knots(npts, order)
    nplusc = npts + order
    t0, t1 = knots[0], knots[nplusc - 1]
    step = (t1 - t0) / (n_out - 1)
    eps = 5e-6 * (t1 - t0)
    out = np.zeros((n_out, 3))
    t = t0
    for i in range(n_out):
        if t1 - t < eps:
            t = t1
        basis = _nurbs_basis(order, t, npts, knots)
        r = basis * weights
        s = r.sum()
        if s != 0:
            r = r / s
        else:
            r = np.zeros_like(r)
        out[i] = r @ ctrl
        t += step
    return out


def _spline_with_checks(degree: int, ctrl: np.ndarray, n_ctrl: int,
                        knots: list[float], n_knots: int,
                        weights: list[float]):
    """InsertSplineWithChecks (ogrdxflayer.cpp:2310): validate counts,
    regenerate missing knots/weights, sample at 8x control points."""
    order = degree + 1
    if order < 2:
        return None
    if n_ctrl == -1:
        n_ctrl = len(ctrl)
    if not (n_ctrl >= order and n_ctrl == len(ctrl)):
        return None
    calc_knots = len(knots) == 0
    if calc_knots:
        kv = None
    else:
        kv = np.asarray(knots, np.float64)
        if n_knots == -1:
            n_knots = len(knots)
        if not (n_knots == n_ctrl + order and n_knots == len(knots)):
            return None
    if len(weights) == 0:
        w = np.ones(n_ctrl)
    else:
        w = np.asarray(weights, np.float64)
        if len(w) != n_ctrl:
            return None
    return nurbs_interpolate(ctrl, order, w, kv, n_ctrl * 8)


def _c_round(x: float) -> float:
    """C round(): half away from zero (Python round is half-even)."""
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


# extend the entity reader with SPLINE and HATCH

def _t_spline(self):
    """SPLINE/HELIX translator (ogrdxflayer.cpp:2151), incl. the
    interleaved-control-point null-Z dance and the #1969 knot fix."""
    f = Feat()
    ctrl: list[float] = []
    knots: list[float] = []
    weights: list[float] = []
    degree = -1
    n_ctrl = -1
    n_knots = -1
    insert_null_z = False
    has_z = False
    rd = self.ds.rd
    while True:
        c, v = rd.read()
        if c <= 0:
            if c == 0:
                rd.unread()
            break
        if c == 10:
            if insert_null_z:
                ctrl.append(0.0)
                insert_null_z = False
            ctrl.append(_atof(v))
        elif c == 20:
            ctrl.append(_atof(v))
            insert_null_z = True
        elif c == 30:
            ctrl.append(_atof(v))
            has_z = True
            insert_null_z = False
        elif c == 40:
            x = _atof(v)
            if -1e-10 < x < 0:   # gdal #1969
                x = 0.0
            knots.append(x)
        elif c == 41:
            weights.append(_atof(v))
        elif c == 70:
            pass
        elif c == 71:
            degree = _atoi(v)
            if degree < 0 or degree > 100:
                return None
        elif c == 72:
            n_knots = _atoi(v)
            if n_knots < 0 or n_knots > 10000000:
                return None
        elif c == 73:
            n_ctrl = _atoi(v)
            if n_ctrl < 0 or n_ctrl > 10000000:
                return None
        elif c == 100:
            stop = v.strip() == "AcDbHelix"
            self.generic(f, c, v)
            if stop:
                break
        else:
            self.generic(f, c, v)
    if insert_null_z:
        ctrl.append(0.0)
    if len(ctrl) % 3 != 0:
        return None
    pts = _spline_with_checks(degree, np.asarray(ctrl).reshape(-1, 3),
                              n_ctrl, knots, n_knots, weights)
    if pts is None:
        return None
    f.geom = ("linestring", pts)
    f.has_z = has_z
    prepare_line_style(self.ds, f)
    return f


def _hatch_polyline_path(self, edges: list, elevation: float,
                         zctx: dict) -> bool:
    """CollectPolylinePath (ogrdxf_hatch.cpp:602)."""
    rd = self.ds.rd
    sp = SmoothPolyline()
    if elevation != 0:
        sp.dim = 3
    bulge = 0.0
    x = y = 0.0
    have_x = have_y = False
    closed = False
    n_verts = -1
    have_bulges = False
    while True:
        c, v = rd.read()
        if c <= 0:
            break
        if n_verts > 0 and len(sp.v) == n_verts:
            # reference quirk: a trailing 10/20/42 code at the count
            # boundary is DISCARDED, any other code is unread
            if c not in (10, 20, 42):
                rd.unread()
            c = 1   # mid-entity stop marker (skip the unread below)
            break
        if c == 93:
            n_verts = _atoi(v)
        elif c == 72:
            have_bulges = bool(_atoi(v))
        elif c == 73:
            closed = bool(_atoi(v))
        elif c == 10:
            if have_x and have_y:
                sp.add(x, y, elevation, bulge)
                bulge = 0.0
                have_y = False
            x = _atof(v)
            have_x = True
        elif c == 20:
            if have_x and have_y:
                sp.add(x, y, elevation, bulge)
                bulge = 0.0
                have_x = False
            y = _atof(v)
            have_y = True
            if have_x and not have_bulges:
                sp.add(x, y, elevation, bulge)
                bulge = 0.0
                have_x = have_y = False
        elif c == 42:
            bulge = _atof(v)
            if have_x and have_y:
                sp.add(x, y, elevation, bulge)
                bulge = 0.0
                have_x = have_y = False
    if c < 0:
        return False
    if c == 0:
        rd.unread()
    if have_x and have_y:
        sp.add(x, y, elevation, bulge)
    if closed:
        sp.close()
    if not sp.v:
        return False
    if n_verts >= 2:
        kind, data, _ = sp.tessellate(False)
        if kind == "linestring":
            edges.append(data)
            if elevation != 0:
                zctx["z"] = True
    return _hatch_skip_source_objects(self)


def _hatch_skip_source_objects(self) -> bool:
    rd = self.ds.rd
    c, v = rd.read()
    if c != 97:
        if c < 0:
            return False
        rd.unread()
    else:
        for _ in range(_atoi(v)):
            if rd.read()[0] < 0:
                return False
    return True


def _hatch_boundary_path(self, edges: list, elevation: float,
                         zctx: dict) -> bool:
    """CollectBoundaryPath (ogrdxf_hatch.cpp:160): line / circular-arc /
    elliptic-arc / spline edge types."""
    rd = self.ds.rd
    c, v = rd.read()
    if c != 92:
        return False
    if _atoi(v) & 0x02:
        return _hatch_polyline_path(self, edges, elevation, zctx)
    c, v = rd.read()
    if c != 93:
        return False
    n_edges = _atoi(v)
    for _ in range(n_edges):
        c, v = rd.read()
        if c != 72:
            return False
        et = _atoi(v)
        if et == 1:      # line
            vals = []
            ok = True
            for want in (10, 20, 11, 21):
                c, v = rd.read()
                if c != want:
                    ok = False
                    break
                vals.append(_atof(v))
            if not ok:
                break
            # the reference emits LINE edges as 3D points always
            # (ogrdxf_hatch.cpp:262 addPoint with elevation)
            edges.append(np.array([[vals[0], vals[1], elevation],
                                   [vals[2], vals[3], elevation]]))
            zctx["z"] = True
        elif et in (2, 3):   # circular / elliptic arc
            want = ((10, 20, 40, 50, 51) if et == 2
                    else (10, 20, 11, 21, 40, 50, 51))
            vals = []
            ok = True
            for w in want:
                c, v = rd.read()
                if c != w:
                    ok = False
                    break
                vals.append(_atof(v))
            if not ok:
                break
            ccw = False
            c, v = rd.read()
            if c == 73:
                ccw = _atoi(v) != 0
            elif c >= 0:
                rd.unread()
            else:
                break
            if et == 2:
                cx, cy, r, a0, a1 = vals
                rot, rp, rs = 0.0, r, r
            else:
                cx, cy, mx, my, ratio, a0, a1 = vals
                if ratio == 0.0:
                    break
                rp = math.sqrt(mx * mx + my * my)
                rs = rp * ratio
                rot = -1 * math.atan2(my, mx) * 180.0 / math.pi
            if a0 > a1:
                a1 += 360.0
            if ccw:
                a0, a1 = -a0, -a1
            if et == 3:
                # circular angle -> elliptical parameter
                # (ogrdxf_hatch.cpp:426, exact op order incl. C round)
                def param(a):
                    return (180.0 * _c_round(a / 180.0)
                            + ((180.0 if a < 0 or (a == 0 and
                                                   math.copysign(1, a) < 0)
                                else -180.0)
                               if abs(math.fmod(a, 180.0)) == 90.0 else 0.0)
                            + math.atan((1.0 / ratio)
                                        * math.tan(a * math.pi / 180.0))
                            * 180.0 / math.pi)
                a0, a1 = param(a0), param(a1)
            if abs(a1 - a0) <= 361.0:
                # arcs flatten to 2D when the elevation is zero
                arc = approximate_arc_angles(cx, cy, elevation, rp, rs,
                                             rot, a0, a1)
                edges.append(arc)
                if elevation != 0.0:
                    zctx["z"] = True
        elif et == 4:    # spline edge
            c, v = rd.read()
            if c != 94:
                break
            degree = _atoi(v)
            if rd.read()[0] != 73:
                break
            if rd.read()[0] != 74:
                break
            c, v = rd.read()
            if c != 95:
                break
            n_knots = _atoi(v)
            c, v = rd.read()
            if c != 96:
                break
            n_ctrl = _atoi(v)
            knots = []
            c, v = rd.read()
            if c != 40:
                break
            while c == 40:
                knots.append(_atof(v))
                c, v = rd.read()
            ctrl = []
            weights = []
            if c != 10:
                break
            while c == 10:
                px = _atof(v)
                c, v = rd.read()
                if c != 20:
                    break
                ctrl.append([px, _atof(v), 0.0])
                c, v = rd.read()
                if c == 42:
                    weights.append(_atof(v))
                    c, v = rd.read()
            if c != 97:
                break
            c, v = rd.read()
            while c > 0 and c not in (72, 97):
                c, v = rd.read()
            if c > 0:
                rd.unread()
            pts = _spline_with_checks(degree, np.asarray(ctrl), n_ctrl,
                                      knots, n_knots, weights)
            if pts is None:
                return False
            edges.append(pts)
        else:
            return False   # unsupported edge type
    if c < 0:
        return False
    return _hatch_skip_source_objects(self)


def _check_pts(p1, p2, tol):
    """CheckPoints (ograssemblepolygon.cpp:34): returns (hit, new_tol)."""
    if tol == 0.0:
        return (p1[0] == p2[0] and p1[1] == p2[1]), tol
    dx = abs(p1[0] - p2[0])
    if dx > tol:
        return False, tol
    dy = abs(p1[1] - p2[1])
    if dy > tol:
        return False, tol
    d = math.sqrt(dx * dx + dy * dy)
    if d < tol:
        return True, d
    return False, tol


def build_polygon_from_edges(edges: list[np.ndarray], tolerance: float):
    """OGRBuildPolygonFromEdges re-expression (ograssemblepolygon.cpp:123)
    with bBestEffort + bAutoClose: chain edges end-to-end within
    tolerance into rings, then organizePolygons. Returns
    (ok, geom, touched) — touched mirrors OGR's Z-promotion: True when
    any ring needed the 3-argument auto-close addPoint or endpoint snap
    (ograssemblepolygon.cpp:300), which makes the result 25D."""
    from .mif import organize_polygons

    pool = [e for e in edges if len(e) >= 2]
    rings = []
    ok = True
    touched = False
    while pool:
        ring = pool.pop(0).copy()
        work_done = True
        while not (ring[0][0] == ring[-1][0] and ring[0][1] == ring[-1][1]) \
                and pool and work_done:
            work_done = False
            best_dist = tolerance
            best = None
            best_i = -1
            best_rev = False
            for i, e in enumerate(pool):
                hit, best_dist = _check_pts(e[0], ring[-1], best_dist)
                if hit:
                    best, best_i, best_rev = e, i, False
                hit, best_dist = _check_pts(e[-1], ring[-1], best_dist)
                if hit:
                    best, best_i, best_rev = e, i, True
                if best_dist == 0.0 and best is not None:
                    break
            if best is not None:
                e = best[::-1] if best_rev else best
                skip, _ = _check_pts(e[0], ring[-1], tolerance)
                ring = np.vstack([ring, e[1:] if skip else e])
                pool.pop(best_i)
                work_done = True
        closed, _ = _check_pts(ring[0], ring[-1], tolerance)
        if not closed:
            ok = False
        exact, _ = _check_pts(ring[0], ring[-1], 0.0)
        if not closed:
            ring = np.vstack([ring, ring[:1]])
            touched = True
        elif not exact:
            ring[-1] = ring[0]
            touched = True
        rings.append(ring)
    return ok, organize_polygons(rings), touched


def _t_hatch(self):
    """TranslateHATCH (ogrdxf_hatch.cpp:32): boundary paths assembled
    into polygons; multilinestring fallback when rings don't close."""
    f = Feat()
    elevation = 0.0
    edges: list[np.ndarray] = []
    zctx = {"z": False}
    extended = ""
    rd = self.ds.rd
    while True:
        c, v = rd.read()
        if c <= 0:
            if c == 0:
                rd.unread()
            break
        if c == 30:
            elevation = _atof(v)
        elif c == 70:
            f.props["FillFlag"] = "Filled" if _atoi(v) else "Pattern"
        elif c == 2:
            f.fields["Text"] = v.strip()
        elif c == 91:
            for _ in range(_atoi(v)):
                if not _hatch_boundary_path(self, edges, elevation,
                                            zctx):
                    break
        elif c == 52:
            f.props["HatchPatternRotation"] = v.strip()
        elif c == 41:
            f.props["HatchPatternScale"] = v.strip()
        elif c == 1001:
            extended = v.strip()
        elif c == 1071:
            if extended == "HATCHBACKGROUNDCOLOR":
                f.props["HatchBackgroundColor"] = v.strip()
        else:
            self.generic(f, c, v)
    if not edges:
        return None
    allc = np.vstack(edges)
    tol = max(allc[:, 0].max() - allc[:, 0].min(),
              allc[:, 1].max() - allc[:, 1].min()) * 1e-7
    ok, geom, touched = build_polygon_from_edges(edges, tol)
    if ok:
        f.geom = geom
        # OGR's auto-close/snap setPoint carries a Z and promotes the
        # ring to 25D even at zero elevation
        f.has_z = zctx["z"] or elevation != 0.0 or touched
    else:
        f.geom = ("multilinestring", edges)
        f.has_z = zctx["z"] or elevation != 0.0
    brush = True   # reference styles HATCH with PrepareBrushStyle
    f.apply_ocs()
    if brush:
        prepare_brush_style(self.ds, f)
    return f


_EntityReader.t_spline = _t_spline
_EntityReader.t_hatch = _t_hatch


def _t_wipeout(self):
    """TranslateWIPEOUT (ogrdxflayer.cpp:2881): clipping-boundary
    outline only — insertion point + u/v scale vectors, vertices
    mapped by (0.5+x)*sx / (0.5-y)*sy, closed to a polygon."""
    f = Feat()
    sp = SmoothPolyline()
    st = {"ox": 0.0, "oy": 0.0, "sx": 1.0, "sy": 1.0,
          "x": 0.0, "nv": 0, "nb": 0, "bad": False}
    rd = self.ds.rd
    while True:
        c, v = rd.read()
        if c <= 0:
            if c == 0:
                rd.unread()
            break
        if st["nb"] > st["nv"]:
            return None   # too many vertices
        if c == 10:
            st["ox"] = _atof(v)
        elif c == 20:
            st["oy"] = _atof(v)
            sp.add(st["ox"], st["oy"], 0.0, 0.0)
        elif c == 11:
            st["sx"] = _atof(v)
        elif c == 22:
            st["sy"] = _atof(v)
        elif c == 71:
            if _atoi(v) == 1:   # point format 1 unsupported
                st["bad"] = True
        elif c == 91:
            st["nv"] = _atoi(v)
        elif c == 14:
            st["x"] = _atof(v)
        elif c == 24:
            sp.add(st["ox"] + (0.5 + st["x"]) * st["sx"],
                   st["oy"] + (0.5 - _atof(v)) * st["sy"], 0.0, 0.0)
            st["nb"] += 1
        elif c in (31, 281, 282, 293):
            pass
        else:
            self.generic(f, c, v)
    if st["bad"] or not sp.v:
        return None
    sp.close()
    kind, data, has_z = sp.tessellate(True)
    f.geom = (kind, data)
    f.has_z = has_z
    prepare_line_style(self.ds, f)
    return f


_EntityReader.t_wipeout = _t_wipeout


# --------------------------------------------------------- LEADER

#: arrowhead blocks treated as having no length (no endpoint shift)
_SPECIAL_ARROWHEADS = {"_ArchTick", "_DotSmall", "_Integral", "_None",
                       "_Oblique", "_Small"}


def _bspline_control_points(params, knots, data, degree,
                            start_tangent, end_tangent):
    """GetBSplineControlPoints re-expression (ogrdxf_leader.cpp:1245):
    solve N P = D for the interpolating control net, with tangent rows
    at positions 1 and n (Piegl & Tiller sections 2.2/9.2)."""
    n = len(data)
    D = np.zeros((n + 2, 3))
    D[0] = data[0]
    D[2:n] = data[1:n - 1]
    D[n + 1] = data[n - 1]
    D[1] = np.asarray(start_tangent) * (knots[degree + 1] / degree)
    D[n] = np.asarray(end_tangent) * ((1.0 - knots[n + 1]) / degree)
    N = np.zeros((n + 2, n + 2))
    N[0, 0] = 1.0
    N[1, 0], N[1, 1] = -1.0, 1.0
    kv = np.asarray(knots, np.float64)
    for row in range(2, n):
        N[row, :] = _nurbs_basis(degree + 1, params[row - 1], n + 2, kv)
    N[n, n], N[n, n + 1] = -1.0, 1.0
    N[n + 1, n + 1] = 1.0
    try:
        return np.linalg.solve(N, D)
    except np.linalg.LinAlgError:
        return None


def interpolate_leader_spline(pts: np.ndarray,
                              end_tangent=(0.0, 0.0, 0.0)) -> np.ndarray:
    """InterpolateSpline (ogrdxf_leader.cpp:1351): chord-length
    parameterisation, tangents scaled by total chord length, knot
    vector 0*3 + params + 1*3, control solve, 8x sampling."""
    keep = [0] + [i for i in range(1, len(pts))
                  if not np.array_equal(pts[i], pts[i - 1])]
    data = pts[keep]
    n = len(data)
    if n < 2:
        return pts
    chord = np.concatenate([[0.0], np.cumsum(
        np.sqrt(((data[1:] - data[:-1]) ** 2).sum(axis=1)))])
    if np.any(np.diff(chord) == 0.0):
        return pts
    total = chord[-1]
    start_tan = (data[1] - data[0]) * (total / chord[1])
    et = np.asarray(end_tangent, np.float64)
    if not et.any():
        et = (data[-1] - data[-2]) / (total - chord[-2])
    et = et * total
    params = chord / total
    degree = 3
    knots = np.zeros(n + degree + 3)
    knots[degree:degree + n] = params
    knots[-degree:] = 1.0
    ctrl = _bspline_control_points(params, knots, data, degree,
                                   start_tan, et)
    if ctrl is None:
        return pts
    return nurbs_interpolate(ctrl, degree + 1, np.ones(len(ctrl)),
                             knots, len(ctrl) * 8)


def _t_leader(self):
    """TranslateLEADER (ogrdxf_leader.cpp:47): 3D vertex triplets,
    DIMSTYLE lookups/overrides, arrowhead insertion with the
    endpoint-shift rule, spline interpolation, DIMTAD text extension."""
    f = Feat()
    ds = self.ds
    pts: list[list[float]] = []
    cur = [0.0, 0.0, 0.0]
    have = [False, False, False]
    dimprops = ds.default_dimstyle()
    st = {"hdx": 1.0, "hdy": 0.0, "hdz": 0.0, "flip": True,
          "has_text": False, "text_width": 0.0, "spline": False,
          "arrow": True}
    rd = ds.rd
    while True:
        c, v = rd.read()
        if c <= 0:
            if c == 0:
                rd.unread()
            break
        if c == 3:
            dimprops.update(ds.dimstyles.get(v.strip(),
                                             ds.default_dimstyle()))
        elif c in (10, 20, 30):
            if all(have):
                pts.append(list(cur))
                have = [c == 10, c == 20, c == 30]
            cur[(c // 10) - 1] = _atof(v)
            have[(c // 10) - 1] = True
        elif c == 41:
            st["text_width"] = _atof(v)
        elif c == 71:
            st["arrow"] = _atoi(v) != 0
        elif c == 72:
            st["spline"] = _atoi(v) != 0
        elif c == 73:
            st["has_text"] = _atoi(v) == 0
        elif c == 74:
            # spec is backwards: nonzero means flip (reference comment)
            st["flip"] = _atoi(v) != 0
        elif c == 211:
            st["hdx"] = _atof(v)
        elif c == 221:
            st["hdy"] = _atof(v)
        elif c == 231:
            st["hdz"] = _atof(v)
        elif c == 1001:
            st["xdata_acad"] = v.strip() == "ACAD"
        elif c == 1070:
            if st.get("xdata_acad"):
                code = _atoi(v)
                if code in _DIMSTYLE_CODES:
                    c2, v2 = rd.read()
                    if c2 in (1005, 1040, 1070):
                        dimprops[_DIMSTYLE_CODES[code][0]] = v2.strip()
                    else:
                        rd.unread()
        else:
            self.generic(f, c, v)
    if all(have):
        pts.append(list(cur))
    line = np.asarray(pts, np.float64).reshape(-1, 3)

    scale = _atof(dimprops["DIMSCALE"]) or 1.0
    asz = _atof(dimprops["DIMASZ"])
    want_ext = _atoi(dimprops["DIMTAD"]) > 0
    text_offset = _atof(dimprops["DIMGAP"])
    leader_color = _atoi(dimprops["DIMCLRD"])
    arrow_handle = dimprops["DIMLDRBLK"].strip().strip('"')
    if leader_color > 0:
        f.props["Color"] = dimprops["DIMCLRD"]

    if st["arrow"] and len(line) >= 2:
        line = self._leader_arrowhead(f, line, arrow_handle, asz * scale)

    if st["flip"]:
        st["hdx"] *= -1.0   # the reference flips X three times (net -1)

    if st["spline"] and len(line) >= 2:
        et = ((st["hdx"], st["hdy"], st["hdz"]) if st["has_text"]
              else (0.0, 0.0, 0.0))
        line = interpolate_leader_spline(line, et)

    if want_ext and st["has_text"] and len(line) >= 2:
        ext_len = text_offset * scale + st["text_width"]
        last = line[-1] + np.array([st["hdx"], st["hdy"], st["hdz"]]) \
            * ext_len
        line = np.vstack([line, last])

    f.geom = ("linestring", line)
    f.has_z = True
    prepare_line_style(ds, f)
    return f


def _leader_arrowhead(self, f: Feat, line: np.ndarray, block_handle: str,
                      size: float) -> np.ndarray:
    """InsertArrowhead with block support and the endpoint-shift rule
    (ogrdxf_leader.cpp:1089): returns the possibly-shifted line."""
    p1, p2 = line[0], line[1]
    seg = math.hypot(p2[0] - p1[0], p2[1] - p1[1])
    if size == 0.0 or seg == 0.0 or size > 0.5 * seg:
        return line
    block_name = self.ds.block_handles.get(block_handle, "") \
        if block_handle else ""
    if not block_name:
        ah = f.clone()
        s = size / seg
        par = np.array([s * (p2[0] - p1[0]), s * (p2[1] - p1[1])])
        perp = np.array([par[1], -par[0]])
        ring = np.array([
            [p1[0] + par[0] + perp[0] / 6, p1[1] + par[1] + perp[1] / 6,
             p1[2]],
            [p1[0], p1[1], p1[2]],
            [p1[0] + par[0] - perp[0] / 6, p1[1] + par[1] - perp[1] / 6,
             p1[2]],
        ])
        ah.geom = ("polygon", [np.vstack([ring, ring[:1]])])
        ah.has_z = True
        prepare_brush_style(self.ds, ah)
        self.pending.append(ah)
    else:
        x = _InsertXform()
        x.ox, x.oy, x.oz = p1
        x.angle = math.atan2(p2[1] - p1[1], p2[0] - p1[0]) + math.pi
        x.sx = x.sy = x.sz = size
        mark = len(self.pending)
        try:
            out = self.insert_block_inline(block_name, x, f.clone(),
                                           merge=False)
            if out is not None:
                self.pending.insert(mark, out)
        except KeyError:
            pass
    if block_name not in _SPECIAL_ARROWHEADS:
        # move the line endpoint out of the way of the arrowhead
        line = line.copy()
        line[0, 0] += size * (p2[0] - p1[0]) / seg
        line[0, 1] += size * (p2[1] - p1[1]) / seg
    return line


_EntityReader.t_leader = _t_leader
_EntityReader._leader_arrowhead = _leader_arrowhead


def _t_mline(self):
    """TranslateMLINE (ogrdxflayer.cpp:1547): per-vertex element
    parameters — the first is a miter-vector distance to the element
    start, then alternating pen-down/pen-up distances along the segment
    direction; open segments close at the next vertex start (or the
    initial vertices when flag 2 closes the mline). Extrusions are
    ignored for MLINE, matching the reference."""
    f = Feat()
    rd = self.ds.rd
    closed = False
    n_verts = 0
    n_elems = 0
    while True:
        c, v = rd.read()
        if c <= 0 or c == 11:
            break
        if c == 71:
            closed = (_atoi(v) & 2) == 2
        elif c == 72:
            n_verts = _atoi(v)
        elif c == 73:
            n_elems = _atoi(v)
            if n_elems <= 0 or n_elems > 1000:
                return None
        else:
            self.generic(f, c, v)
    if c < 0:
        return None
    if c in (0, 11):
        rd.unread()

    lines: list[np.ndarray] = []
    current: list = [None] * n_elems
    initial: list = [None] * n_elems

    def expect(code):
        c2, v2 = rd.read()
        if c2 != code:
            raise ValueError(f"MLINE: expected code {code}, got {c2}")
        return v2

    try:
        for ivert in range(n_verts):
            vx = _atof(expect(11))
            vy = _atof(expect(21))
            vz = _atof(expect(31))
            sx = _atof(expect(12))
            sy = _atof(expect(22))
            sz = _atof(expect(32))
            mx = _atof(expect(13))
            my = _atof(expect(23))
            mz = _atof(expect(33))
            for ielem in range(n_elems):
                n_params = _atoi(expect(74))
                start = np.zeros(3)
                if n_params > 0:
                    dist = _atof(expect(41))
                    start = np.array([vx + mx * dist, vy + my * dist,
                                      vz + mz * dist])
                    if closed and ivert == 0:
                        initial[ielem] = start.copy()
                    if current[ielem] is not None:
                        lines.append(np.vstack([current[ielem], start]))
                        current[ielem] = None
                for ipar in range(1, n_params):
                    dist = _atof(expect(41))
                    cur = np.array([start[0] + sx * dist,
                                    start[1] + sy * dist,
                                    start[2] + sz * dist])
                    if ipar % 2 == 0:   # pen-down segment end
                        lines.append(np.vstack([current[ielem], cur]))
                        current[ielem] = None
                    else:               # pen-up break end
                        current[ielem] = cur.reshape(1, 3)
                n_fill = _atoi(expect(75))
                for _ in range(n_fill):
                    expect(42)
    except ValueError:
        return None
    if closed:
        for ielem in range(n_elems):
            if current[ielem] is not None and initial[ielem] is not None:
                lines.append(np.vstack([current[ielem], initial[ielem]]))
                current[ielem] = None
    f.geom = ("multilinestring", lines)
    f.has_z = True
    prepare_line_style(self.ds, f)
    return f


_EntityReader.t_mline = _t_mline
