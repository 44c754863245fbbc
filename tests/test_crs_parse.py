"""CRS family registry (operators/reproject.py ``_FAMILIES``): every
EPSG code resolves to its entry, a proj4 and a WKT spelling of each
family build the same params as the EPSG entry (one builder per
family, datum shift included, on the ellipsoid the definition
declares), every returned kind has an inverse in the warp dispatch,
and non-metre proj4 units are refused — all Spark-free — plus one warp
check: a shifted geographic CRS is keyed through its datum shift."""

from __future__ import annotations

import dataclasses

import pytest

from biggis_landuse_spark.operators.reproject import (
    _BY_KIND,
    _ELLPS,
    _CASSINI_CRS,
    _FAMILIES,
    _KROVAK_CRS,
    _LCC_CRS,
    _OMERC_CRS,
    _PS_CRS,
    _SOMERC_CRS,
    _STEREA_CRS,
    _TM_CRS,
    DATUM_UNKNOWN,
    MODIS_SINU,
    SinuEllParams,
    TmParams,
    datum_shift_to_wgs84,
    parse_crs,
    parse_proj4,
    parse_wkt_crs,
    reproject_pixels_to_webmercator,
)

WGS84 = ("WGS 84", 6378137, 298.257223563)
GRS80 = ("GRS 1980", 6378137, 298.257222101)
BESSEL = ("Bessel 1841", 6377397.155, 299.1528128)


def _wkt(proj, params, sph=WGS84, datum="WGS_1984", extra=""):
    """A PROJCS definition in the ESRI/OGC shape of a .prj sidecar."""
    prm = "".join(f',PARAMETER["{k}",{v!r}]' for k, v in params.items())
    return (
        f'PROJCS["x",GEOGCS["g",DATUM["{datum}",SPHEROID["{sph[0]}",'
        f"{sph[1]!r},{sph[2]!r}]{extra}],PRIMEM[\"Greenwich\",0],"
        f'UNIT["degree",0.0174532925199433]],PROJECTION["{proj}"]{prm},'
        f'UNIT["metre",1]]'
    )


def _fe_fn(fe, fn):
    return {"false_easting": fe, "false_northing": fn}


# (kind, expected descriptor params, proj4 spelling, WKT spelling)
CASES = [
    ("lonlat", None, "+proj=longlat +datum=WGS84 +no_defs",
     'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
     '298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",'
     '0.0174532925199433]]'),
    ("utm", (32, True), "+proj=utm +zone=32 +datum=WGS84 +units=m",
     _wkt("Transverse_Mercator", {
         "latitude_of_origin": 0, "central_meridian": 9,
         "scale_factor": 0.9996, **_fe_fn(500000, 0)})),
    ("tm", _TM_CRS[27700],
     "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 "
     "+y_0=-100000 +ellps=airy +datum=OSGB36 +units=m",
     _wkt("Transverse_Mercator", {
         "latitude_of_origin": 49, "central_meridian": -2,
         "scale_factor": 0.9996012717, **_fe_fn(400000, -100000)},
         ("Airy 1830", 6377563.396, 299.3249646), "OSGB_1936")),
    ("tm", _TM_CRS[31468],
     "+proj=tmerc +lat_0=0 +lon_0=12 +k=1 +x_0=4500000 +y_0=0 "
     "+ellps=bessel +datum=potsdam +units=m",
     _wkt("Transverse_Mercator", {
         "latitude_of_origin": 0, "central_meridian": 12,
         "scale_factor": 1, **_fe_fn(4500000, 0)},
         BESSEL, "Deutsches_Hauptdreiecksnetz")),
    ("lcc", _LCC_CRS[2154],
     "+proj=lcc +lat_1=44 +lat_2=49 +lat_0=46.5 +lon_0=3 +x_0=700000 "
     "+y_0=6600000 +ellps=GRS80 +towgs84=0,0,0,0,0,0,0 +units=m",
     _wkt("Lambert_Conformal_Conic_2SP", {
         "standard_parallel_1": 44, "standard_parallel_2": 49,
         "latitude_of_origin": 46.5, "central_meridian": 3,
         **_fe_fn(700000, 6600000)},
         GRS80, "Reseau_Geodesique_Francais_1993")),
    ("laea", parse_crs("EPSG:3035")[1],
     "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 "
     "+ellps=GRS80 +units=m",
     _wkt("Lambert_Azimuthal_Equal_Area", {
         "latitude_of_center": 52, "longitude_of_center": 10,
         **_fe_fn(4321000, 3210000)},
         GRS80, "European_Terrestrial_Reference_System_1989")),
    ("ps", _PS_CRS[3413],
     "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +x_0=0 +y_0=0 "
     "+datum=WGS84 +units=m",
     _wkt("Polar_Stereographic", {
         "standard_parallel_1": 70, "central_meridian": -45, **_fe_fn(0, 0)})),
    ("ps", _PS_CRS[3031],
     "+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 +x_0=0 +y_0=0 "
     "+datum=WGS84 +units=m",
     _wkt("Polar_Stereographic", {
         "latitude_of_origin": -71, "central_meridian": 0, **_fe_fn(0, 0)})),
    ("aea", parse_crs("EPSG:5070")[1],
     "+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 +lat_2=45.5 +x_0=0 "
     "+y_0=0 +ellps=GRS80 +units=m",
     _wkt("Albers_Conic_Equal_Area", {
         "latitude_of_center": 23, "longitude_of_center": -96,
         "standard_parallel_1": 29.5, "standard_parallel_2": 45.5,
         **_fe_fn(0, 0)}, GRS80, "North_American_Datum_1983")),
    ("cea", parse_crs("EPSG:6933")[1],
     "+proj=cea +lat_ts=30 +lon_0=0 +x_0=0 +y_0=0 +datum=WGS84 +units=m",
     _wkt("Cylindrical_Equal_Area", {
         "standard_parallel_1": 30, "central_meridian": 0, **_fe_fn(0, 0)})),
    ("merc", parse_crs("EPSG:3395")[1],
     "+proj=merc +lon_0=0 +k=1 +x_0=0 +y_0=0 +datum=WGS84 +units=m",
     _wkt("Mercator_1SP", {
         "central_meridian": 0, "scale_factor": 1, **_fe_fn(0, 0)})),
    ("eqc", parse_crs("EPSG:4087")[1],
     "+proj=eqc +lat_ts=0 +lat_0=0 +lon_0=0 +x_0=0 +y_0=0 +datum=WGS84",
     _wkt("Equidistant_Cylindrical", {
         "standard_parallel_1": 0, "central_meridian": 0, **_fe_fn(0, 0)})),
    ("moll", parse_crs("ESRI:54009")[1],
     "+proj=moll +lon_0=0 +x_0=0 +y_0=0 +datum=WGS84 +units=m",
     _wkt("Mollweide", {"central_meridian": 0, **_fe_fn(0, 0)})),
    ("sinu", MODIS_SINU,
     "+proj=sinu +lon_0=0 +x_0=0 +y_0=0 +R=6371007.181 +units=m",
     _wkt("Sinusoidal", {"central_meridian": 0, **_fe_fn(0, 0)},
          ("Sphere", 6371007.181, 0), "D_Sphere")),
    ("sinu_ell", SinuEllParams(6378137.0, 298.257223563, 0.0, 0.0, 0.0),
     "+proj=sinu +lon_0=0 +x_0=0 +y_0=0 +datum=WGS84 +units=m",
     _wkt("Sinusoidal", {"central_meridian": 0, **_fe_fn(0, 0)})),
    ("somerc", _SOMERC_CRS[21781],
     "+proj=somerc +lat_0=46.95240555555556 +lon_0=7.439583333333333 "
     "+k_0=1 +x_0=600000 +y_0=200000 +ellps=bessel "
     "+towgs84=674.374,15.056,405.346,0,0,0,0 +units=m",
     _wkt("Hotine_Oblique_Mercator_Azimuth_Center", {
         "latitude_of_center": 46.95240555555556,
         "longitude_of_center": 7.439583333333333, "azimuth": 90,
         "rectified_grid_angle": 90, "scale_factor": 1,
         **_fe_fn(600000, 200000)}, BESSEL, "CH1903")),
    ("sterea", _STEREA_CRS[28992],
     "+proj=sterea +lat_0=52.15616055555555 +lon_0=5.38763888888889 "
     "+k=0.9999079 +x_0=155000 +y_0=463000 +ellps=bessel "
     "+towgs84=565.417,50.3319,465.552,-0.398957,0.343988,-1.8774,4.0725",
     _wkt("Oblique_Stereographic", {
         "latitude_of_origin": 52.15616055555555,
         "central_meridian": 5.38763888888889, "scale_factor": 0.9999079,
         **_fe_fn(155000, 463000)}, BESSEL, "Amersfoort")),
    ("omerc", _OMERC_CRS[29873],
     "+proj=omerc +lat_0=4 +lonc=115 +alpha=53.31582047222222 "
     "+gamma=53.13010236111111 +k=0.99984 +x_0=590476.87 "
     "+y_0=442857.65 +ellps=evrstSS +towgs84=-679,669,-48 +units=m",
     _wkt("Hotine_Oblique_Mercator_Azimuth_Center", {
         "latitude_of_center": 4, "longitude_of_center": 115,
         "azimuth": 53.31582047222222,
         "rectified_grid_angle": 53.13010236111111,
         "scale_factor": 0.99984, **_fe_fn(590476.87, 442857.65)},
         ("Everest 1830 (1967 Definition)", 6377298.556, 300.8017),
         "Timbalai_1948")),
    ("krovak", _KROVAK_CRS[5514],
     "+proj=krovak +lat_0=49.5 +lon_0=24.83333333333333 +k=0.9999 "
     "+x_0=0 +y_0=0 +a=6377397.155 +rf=299.15281 "
     "+towgs84=570.8,85.7,462.8,4.998,1.587,5.261,3.56 +units=m",
     _wkt("Krovak", {
         "latitude_of_center": 49.5, "longitude_of_center": 24.83333333333333,
         "azimuth": 30.28813975, "pseudo_standard_parallel_1": 78.5,
         "scale_factor": 0.9999, **_fe_fn(0, 0), "x_scale": -1},
         ("Bessel 1841", 6377397.155, 299.15281), "S_JTSK")),
    ("krovak", _KROVAK_CRS[2065],
     "+proj=krovak +czech +lat_0=49.5 +lon_0=24.83333333333333 "
     "+k=0.9999 +x_0=0 +y_0=0 +a=6377397.155 +rf=299.15281 "
     "+towgs84=570.8,85.7,462.8,4.998,1.587,5.261,3.56 +units=m",
     _wkt("Krovak", {
         "latitude_of_center": 49.5, "longitude_of_center": 24.83333333333333,
         "azimuth": 30.28813975, "pseudo_standard_parallel_1": 78.5,
         "scale_factor": 0.9999, **_fe_fn(0, 0)},
         ("Bessel 1841", 6377397.155, 299.15281), "S_JTSK")),
    # a named datum with no towgs84 set: the parse succeeds and the
    # warp refuses (DATUM_UNKNOWN), as for the EPSG entry
    ("cassini", _CASSINI_CRS[28191],
     "+proj=cass +lat_0=31.73409694444445 +lon_0=35.21208055555556 "
     "+x_0=170251.555 +y_0=126867.909 +a=6378300.789 "
     "+rf=293.466307656 +datum=palestine1923 +units=m",
     _wkt("Cassini_Soldner", {
         "latitude_of_origin": 31.73409694444445,
         "central_meridian": 35.21208055555556,
         **_fe_fn(170251.555, 126867.909)},
         ("Clarke 1880 (Benoit)", 6378300.789, 293.466307656),
         "Palestine_1923")),
]


def _assert_same(got, want):
    """Field for field, ``helmert`` included; floats to 1e-12 relative."""
    if not dataclasses.is_dataclass(want):
        assert got == want and (want is not DATUM_UNKNOWN or got is want)
        return
    assert type(got) is type(want)
    for f in dataclasses.fields(want):
        g, w = getattr(got, f.name), getattr(want, f.name)
        if isinstance(w, float):
            assert g == pytest.approx(w, rel=1e-12, abs=1e-12), f.name
        else:
            _assert_same(g, w)


def test_every_registry_code_resolves_to_its_entry():
    codes = [(f, c, p) for f in _FAMILIES for c, p in f.epsg.items()]
    assert len({c for _, c, _ in codes}) == len(codes)  # no code twice
    for fam, code, params in codes:
        for spelling in (f"{fam.authority}:{code}", str(code)):
            kind, got = parse_crs(spelling)
            assert kind == fam.kind and got is params, spelling
    assert parse_crs("EPSG:32601") == ("utm", (1, True))
    assert parse_crs("EPSG:32760") == ("utm", (60, False))
    for bad in ("EPSG:54009", "ESRI:27700", "EPSG:32661", "EPSG:9999"):
        with pytest.raises(ValueError, match="unsupported source CRS"):
            parse_crs(bad)


@pytest.mark.parametrize(
    "kind, want, proj4, wkt", CASES,
    ids=[f"{c[0]}-{i}" for i, c in enumerate(CASES)],
)
def test_proj4_and_wkt_build_the_epsg_entry(kind, want, proj4, wkt):
    for parse, src in ((parse_proj4, proj4), (parse_wkt_crs, wkt)):
        got_kind, got = parse(src)
        assert got_kind == kind, src
        _assert_same(got, want)
        assert parse_crs(src) == (got_kind, got)


def test_every_family_is_covered_and_every_kind_has_an_inverse():
    assert {c[0] for c in CASES} == set(_BY_KIND)
    for fam in _FAMILIES:
        assert callable(fam.inverse)
        assert fam.build is not None or not (fam.proj4 or fam.wkt)
    # the datum step's promotions land on registry kinds too
    kind, _ = parse_proj4("+proj=utm +zone=30 +ellps=intl +towgs84=1,2,3")
    assert kind == "tm" and callable(_BY_KIND[kind].inverse)
    kind, p = parse_proj4("+proj=longlat +ellps=bessel +towgs84=598,73,418")
    assert kind == "lonlat" and p.helmert.dx == 598.0


@pytest.mark.parametrize("proj4", [
    "+proj=tmerc +lat_0=0 +lon_0=-81 +k=0.9996 +x_0=500000 +y_0=0 "
    "+ellps=GRS80 +units=us-ft",
    "+proj=lcc +lat_1=33 +lat_2=45 +lat_0=39 +lon_0=-96 +x_0=0 +y_0=0 "
    "+ellps=GRS80 +to_meter=0.3048006096012192",
])
def test_proj4_non_metre_units_are_refused(proj4):
    with pytest.raises(ValueError, match="metres only"):
        parse_proj4(proj4)
    metric = proj4.replace("+units=us-ft", "+units=m").replace(
        "+to_meter=0.3048006096012192", "+to_meter=1"
    )
    assert parse_proj4(metric)[0] in ("tm", "lcc")


SHIFT = "+towgs84=598.1,73.7,418.2"


def test_proj4_shifted_utm_keeps_its_numeric_ellipsoid():
    # the TM a shifted UTM becomes is on the ellipsoid the definition
    # declares, by name or by +a/+rf alike
    by_name = parse_proj4(f"+proj=utm +zone=32 +ellps=bessel {SHIFT}")
    numeric = parse_proj4(
        f"+proj=utm +zone=32 +a=6377397.155 +rf=299.1528128 {SHIFT}"
    )
    assert by_name[0] == numeric[0] == "tm"
    assert isinstance(numeric[1], TmParams)
    assert (numeric[1].a, numeric[1].f_inv) == _ELLPS["BESSEL"]
    _assert_same(numeric[1], by_name[1])
    geog = parse_proj4(f"+proj=longlat +a=6377397.155 +rf=299.1528128 {SHIFT}")
    assert (geog[1].a, geog[1].f_inv) == _ELLPS["BESSEL"]


@pytest.mark.parametrize("proj4", [
    "+proj=utm +zone=32 +ellps=foo",
    f"+proj=utm +zone=32 +ellps=foo {SHIFT}",
    "+proj=longlat +ellps=foo",
])
def test_proj4_unknown_ellipsoid_name_is_refused(proj4):
    with pytest.raises(ValueError, match="unsupported ellipsoid 'FOO'"):
        parse_proj4(proj4)


def test_proj4_unshifted_datum_name_needs_no_ellipsoid():
    # ETRS89 is no ellipsoid name, but it implies no shift, so the
    # UTM and lon/lat descriptors never read an ellipsoid
    assert parse_proj4("+proj=utm +zone=32 +datum=ETRS89") == (
        "utm", (32, True)
    )
    assert parse_proj4("+proj=longlat +datum=ETRS89") == ("lonlat", None)


@pytest.mark.parametrize("proj4, ellps", [
    ("+proj=tmerc +lat_0=0 +lon_0=9 +k=1 +x_0=0 +y_0=0 +datum=ETRS89",
     "GRS80"),
    ("+proj=longlat +datum=DHDN", "BESSEL"),
    ("+proj=utm +zone=32 +datum=CH1903", "BESSEL"),
])
def test_proj4_datum_name_reads_its_ellipsoid(proj4, ellps):
    # wherever a step reads the ellipsoid, a +datum= name with no
    # +ellps= takes the one its _DATUM_NAMES entry declares
    _, params = parse_proj4(proj4)
    assert (params.a, params.f_inv) == _ELLPS[ellps]


def test_shifted_geographic_crs_is_warped_through_its_shift(spark):
    # a 3×3 lon/lat patch in Bessel/DHDN coordinates, one pixel per
    # row; at zoom 16 (~2.4 m cells) the ~100 m shift moves every key
    crs = f"+proj=longlat +ellps=bessel {SHIFT}"
    d = 2.0 ** -12
    rows = [(0, i, j, float(3 * j + i), 9.0, 49.0, d, d)
            for i in range(3) for j in range(3)]
    ddl = ("band int, px int, py int, value double, "
           "x0 double, y0 double, dx double, dy double")
    px = spark.createDataFrame(rows, ddl)
    keys = ["tile_col", "tile_row", "px", "py"]

    def warp(df, src):
        out = reproject_pixels_to_webmercator(df, 16, "t", src_crs=src)
        return {r["value"]: tuple(r[k] for k in keys) for r in out.collect()}

    # the reference: each pixel centre shifted on the driver's own
    # query, then keyed as a WGS84 pixel of negligible size there
    a, f_inv = _ELLPS["BESSEL"]
    centres = px.select(
        "value",
        (px.x0 + (px.px + 0.5) * px.dx).alias("lon"),
        (px.y0 - (px.py + 0.5) * px.dy).alias("lat"),
    )
    lon, lat = datum_shift_to_wgs84(
        centres.lon, centres.lat, a, f_inv, parse_proj4(crs)[1].helmert
    )
    tiny = 1e-9
    shifted = [
        (0, 0, 0, r["value"], r["lon"] - tiny / 2, r["lat"] + tiny / 2,
         tiny, tiny)
        for r in centres.select("value", lon.alias("lon"),
                                   lat.alias("lat")).collect()
    ]
    got = warp(px, crs)
    assert len(got) == 9
    assert got == warp(spark.createDataFrame(shifted, ddl), "EPSG:4326")
    unshifted = warp(px, "EPSG:4326")
    assert all(got[v] != unshifted[v] for v in got)
