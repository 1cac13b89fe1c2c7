"""Format sources and sinks — the engine's raster and vector driver set.

Parquet is the engine's own storage (SURVEY §2.1). Next to it, this
package holds about seventy format modules, one per format family of the
reference's raster and vector drivers: each reads the reference's own
test fixtures and replays its autotest goldens, and most have a writer
that the driver contract's ``*_roundtrip`` keys exercise. The package
re-exports the common entry points below; the rest import from their
module. Representative shapes:

- AAIGrid (Arc/Info ASCII grid, frmts/aaigrid/aaigriddataset.cpp) —
  header + row-major values in one text file. Inherently a small
  single-file format (the reference also parses it sequentially), so
  the parse is driver-side NumPy and the OUTPUT is the distributed
  (bx, by, value) cell table every raster operator consumes.
- XYZ (frmts/xyz/xyzdataset.cpp) — "x y z" lines, one cell per row.
  This one IS distributable: spark.read.csv scans it in parallel and
  cell indices derive from closed-form column math.
- TIFF (uncompressed striped subset of frmts/gtiff/) — pure-NumPy IFD
  parsing incl. the GDAL_NODATA tag; reads the reference's own
  autotest fixtures (pat.tif) directly. Compressed/tiled variants
  raise honestly (libtiff territory).
- BMP (frmts/bmp/) — via the multimodal pure-NumPy codec, one band to
  a cell table.
- PNG (frmts/png/) — stdlib zlib inflate + NumPy unfiltering; depths
  1/2/4/8/16, color types 0/2/3/4/6, Adam7 interlace. Replays the
  reference's own png.py checksums (57921 / 4672 / stefan quartet).
- GeoJSON / GeoJSONSeq (ogr/ogrsf_frmts/geojson/) — the vector-side
  exception: GeoJSONSeq (one Feature per line, RFC 8142 RS tolerated)
  line-splits across executors, so the read is fully distributed;
  whole-file FeatureCollections parallelize per file. Output is the
  engine's WKB + envelope feature schema; sink writes GeoJSONSeq.
- CSV vector layers (ogr/ogrsf_frmts/csv/) — spark.read.csv is already
  a splittable distributed scan; geometry materializes from a WKT
  column or X/Y point columns (the driver's GEOM/X/Y_POSSIBLE_NAMES
  modes) into WKB + envelope; sink writes GEOMETRY=AS_WKT CSV.
"""

from .aaigrid import read_aaigrid, write_aaigrid
from .geocsv import read_geocsv, write_geocsv
from .gif import decode_gif, encode_gif, read_gif
from .gml import read_gml, write_gml
from .gpx import read_gpx, write_gpx
from .jpeg import decode_jpeg, decode_jpeg_mask, read_jpeg
from .kml import read_kml, write_kml, write_kml_parts
from .mif import read_mif, write_mif
from .geojson import (read_geojson, read_geojson_seq,
                      read_geojson_seq_stream, write_geojson_seq)
from .png import decode_png, encode_png, read_png
from .tiff import decode_tiff, encode_tiff, read_bmp, read_tiff, write_tiff
from .surfer import decode_surfer, read_surfer
from .topojson import read_topojson
from .usgsdem import decode_usgsdem, read_usgsdem
from .xyz import read_xyz, write_xyz
# continuation-session codecs (each with its own autotest replays)
from .adrg import read_adrg
from .avce00 import read_e00
from .dgnv7 import read_dgn
from .dimap import read_dimap_window
from .esric import read_esric
from .gmt import read_gmt, write_gmt
from .gridpack import (read_csf, read_nsidcbin, read_rraster,
                       read_rst, read_saga, read_sigdem,
                       write_rraster, write_rst, write_saga,
                       write_sigdem)
from .gridpack2 import read_ace2, read_kro, read_zmap, write_zmap
from .hf2 import read_hf2
from .iris import read_iris
from .mrf import read_mrf
from .nwt import read_grd
from .pds4 import read_pds4
from .s57 import read_s57
from .srp import read_srp
from .stacta import read_stacta
from .tga import decode_tga, read_tga
from .til import read_til
from .vdv import read_idf, write_vdv
from .wasp import read_wasp, write_wasp
from .zarrstore import read_zarr_cells, write_zarr_array
from .ceos import read_ceos
from .pcidsk import read_pcidsk

__all__ = ["read_aaigrid", "write_aaigrid", "read_xyz", "write_xyz",
           "read_tiff", "write_tiff", "read_bmp", "decode_tiff",
           "encode_tiff", "decode_png", "encode_png", "read_png",
           "read_geojson", "read_geojson_seq", "read_geojson_seq_stream",
           "write_geojson_seq", "read_geocsv", "write_geocsv",
           "read_kml", "write_kml", "write_kml_parts", "read_gpx", "write_gpx",
           "decode_gif", "encode_gif", "read_gif", "decode_surfer",
           "read_surfer", "decode_usgsdem", "read_usgsdem", "read_gml",
           "write_gml", "read_mif", "write_mif", "read_topojson",
           "decode_jpeg", "decode_jpeg_mask", "read_jpeg",
           "read_adrg", "read_e00", "read_dgn", "read_dimap_window",
           "read_esric", "read_gmt", "write_gmt", "read_csf",
           "read_nsidcbin", "read_rraster", "read_rst", "read_saga",
           "read_sigdem", "write_rraster", "write_rst", "write_saga",
           "write_sigdem", "read_ace2", "read_kro", "read_zmap",
           "write_zmap", "read_hf2", "read_iris", "read_mrf",
           "read_grd", "read_pds4", "read_s57", "read_srp",
           "read_stacta", "decode_tga", "read_tga", "read_til",
           "read_idf", "write_vdv", "read_wasp", "write_wasp",
           "read_zarr_cells", "write_zarr_array", "read_ceos",
           "read_pcidsk"]
