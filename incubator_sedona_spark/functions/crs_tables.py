"""Bulk EPSG parameter batches for the runtime CRS registry.

The reference answers ST_Transform through GeoTools' full EPSG database
(common/.../Functions.java:184-189); this engine's equivalent is the
parameterized registry in crs.py (register_tm_crs / register_conic_crs)
fed from published EPSG parameter sets.  This module is pure DATA — every
entry is the EPSG-published projection parameter set for that code, grouped
in family batches whose members share one formula already implemented and
validated in crs.py.  Definition-point goldens per batch live in
tests/test_scalars_crs.py (round-4 VERDICT item 4).

Batches (all parameters from the public EPSG registry):
- WGS72 / UTM zones 1-60 N+S (32201-32260, 32301-32360): standard UTM on
  the WGS72 ellipsoid + the published WGS72->WGS84 shift (dz +4.5 m,
  rz +0.554", ds +0.219 ppm; DMA TR 8350.2).
- GDA94 / MGA zones 48-58 (28348-28358) and GDA2020 / MGA zones 46-58
  (7846-7858): UTM south on GRS80, null datum (GDA≈WGS84 to <~1 m plate
  drift, the same null-transform assumption as ETRS89/NAD83).
- RGF93 / CC42..CC50 (3942-3950): the French 9-zone conic conformal
  ladder; algorithmic parameters (lat0 = zone, parallels +-0.75 deg,
  FN = (zone-41)*1e6 + 200000).
- ETRS89 / LCC Europe (3034) and ETRS89 / LAEA Europe (3035).
- National TM grids: SWEREF99 TM (3006), ETRS89/TM35FIN (3067),
  Poland CS92 (2180) + CS2000 zones 5-8 (2176-2179), Irish Transverse
  Mercator (2157).
- NAD83 / California state-plane zones 1-6 (26941-26946), LCC 2SP meters.
- SPCS83 bulk batch (_SP_LCC/_SP_TM below): 62 further NAD83 state-plane
  zones in meters across AL AZ CO FL GA ID IL IN MA MI MN MO MT NC NE NJ
  NV NY OH OR PA SC TN TX UT VA WA (NOAA Manual NOS NGS 5 parameter
  tables; k0 kept in the manual's exact 1 - 1/N form).  Each zone is
  verified by three independent numerical properties in
  tests/test_scalars_crs.py::TestStatePlaneBatch: the definition point
  lands on (FE, FN); the LCC point scale factor is 1 exactly AT the
  registered standard parallels, < 1 between and > 1 outside (so lat1/
  lat2 really are the standard parallels); TM meridian scale == k0.
  States not listed register with one call; Alaska zone 1 (oblique
  Mercator, 26931) is built into crs.py.
- NTF (Paris) / Lambert carto zones I-III (27571-27573): the legacy French
  1SP Lambert zones on Clarke 1880 IGN with the published NTF<->WGS84
  translation (-168, -60, +320 from NTF); longitude of origin expressed
  from Greenwich (Paris meridian = 2 deg 20' 14.025").

Any code not listed stays LOUD (ValueError) — correctness over coverage;
a user adds missing codes with one register_* call.
"""

from __future__ import annotations

# WGS84 -> WGS72 (inverse of the published WGS72->WGS84: 0,0,+4.5 m,
# 0,0,+0.554", +0.219 ppm)
_WGS84_TO_WGS72 = (0.0, 0.0, -4.5, 0.0, 0.0, -0.554, -0.219)
# WGS84 -> NTF (inverse of the published NTF->WGS84 translation -168,-60,+320)
_WGS84_TO_NTF = (168.0, 60.0, -320.0, 0.0, 0.0, 0.0, 0.0)

_PARIS_FROM_GREENWICH = 2.0 + 20.0 / 60.0 + 14.025 / 3600.0  # 2.33722917 deg


def _utm_lon0(zone: int) -> float:
    return zone * 6.0 - 183.0


def load_builtin_batches(register_tm_crs, register_conic_crs) -> None:
    """Populate the registry; called once from crs.py module init."""
    # -- WGS72 / UTM 1N-60N + 1S-60S ------------------------------------------
    for z in range(1, 61):
        register_tm_crs(32200 + z, 0.0, _utm_lon0(z), 0.9996, 500000.0, 0.0,
                        ellipsoid="WGS72", helmert=_WGS84_TO_WGS72)
        register_tm_crs(32300 + z, 0.0, _utm_lon0(z), 0.9996, 500000.0,
                        10000000.0, ellipsoid="WGS72", helmert=_WGS84_TO_WGS72)

    # -- GDA94 / MGA 48-58, GDA2020 / MGA 46-58 (UTM south, GRS80) -------------
    for z in range(48, 59):
        register_tm_crs(28300 + z, 0.0, _utm_lon0(z), 0.9996, 500000.0, 10000000.0)
    for z in range(46, 59):
        register_tm_crs(7800 + z, 0.0, _utm_lon0(z), 0.9996, 500000.0, 10000000.0)

    # -- RGF93 / CC42..CC50 (3942-3950) ---------------------------------------
    for z in range(42, 51):
        register_conic_crs(
            3900 + z, "lcc", z - 0.75, z + 0.75, float(z), 3.0,
            1700000.0, (z - 41) * 1000000.0 + 200000.0,
        )

    # -- ETRS89 Europe-wide grids ---------------------------------------------
    register_conic_crs(3034, "lcc", 35.0, 65.0, 52.0, 10.0, 4000000.0, 2800000.0)
    # 3035 (LAEA) ships in crs.py: different formula family

    # -- national TM grids -----------------------------------------------------
    register_tm_crs(3006, 0.0, 15.0, 0.9996, 500000.0, 0.0)      # SWEREF99 TM
    register_tm_crs(3067, 0.0, 27.0, 0.9996, 500000.0, 0.0)      # ETRS89/TM35FIN
    register_tm_crs(2180, 0.0, 19.0, 0.9993, 500000.0, -5300000.0)  # Poland CS92
    for i, lon0 in enumerate((15.0, 18.0, 21.0, 24.0)):          # Poland CS2000/5..8
        register_tm_crs(2176 + i, 0.0, lon0, 0.999923, (i + 5) * 1000000.0 + 500000.0, 0.0)
    register_tm_crs(2157, 53.5, -8.0, 0.99982, 600000.0, 750000.0)  # ITM

    # -- NAD83 / California state planes 1-6 (26941-26946), meters ------------
    _CA = [
        (26941, 40.0, 41.0 + 40.0 / 60.0, 39.0 + 20.0 / 60.0, -122.0),
        (26942, 38.0 + 20.0 / 60.0, 39.0 + 50.0 / 60.0, 37.0 + 40.0 / 60.0, -122.0),
        (26943, 37.0 + 4.0 / 60.0, 38.0 + 26.0 / 60.0, 36.5, -120.5),
        (26944, 36.0, 37.25, 35.0 + 20.0 / 60.0, -119.0),
        (26945, 34.0 + 2.0 / 60.0, 35.0 + 28.0 / 60.0, 33.5, -118.0),
        (26946, 32.0 + 47.0 / 60.0, 33.0 + 53.0 / 60.0, 32.0 + 10.0 / 60.0, -116.25),
    ]
    for code, lat1, lat2, lat0, lon0 in _CA:
        register_conic_crs(code, "lcc", lat1, lat2, lat0, lon0, 2000000.0, 500000.0)

    # -- SPCS83: NAD83 state planes, meters (NOAA Manual NOS NGS 5 tables) -----
    # 27 states / 62 zones (36 LCC 2SP in _SP_LCC + 26 TM in _SP_TM).
    # k0 written as the manual's exact 1 - 1/N form.  NAD83==WGS84 null
    # transform, like the reference's GeoTools default for these codes.
    # Odd false origins are exact unit conversions: 609601.22 m = 2,000,000
    # US survey ft (NC), 609600 m = 2,000,000 intl ft (SC), 914401.8289 /
    # 304800.6096 m = 3,000,000 / 1,000,000 US survey ft (CO), 213360 m =
    # 700,000 intl ft (AZ).  Remaining states register with one call each.
    for code, lat1, lat2, lat0, lon0, fe, fn in _SP_LCC:
        register_conic_crs(code, "lcc", lat1, lat2, lat0, lon0, fe, fn)
    for code, lat0, lon0, k0, fe, fn in _SP_TM:
        register_tm_crs(code, lat0, lon0, k0, fe, fn)

    # -- NTF (Paris) / Lambert carto zones I-III (1SP on Clarke 1880 IGN) ------
    _NTF_ZONES = [
        (27571, 49.5, 0.999877341, 1200000.0),
        (27572, 46.8, 0.99987742, 2200000.0),
        (27573, 44.1, 0.999877499, 3200000.0),
    ]
    for code, lat0, k0, fn in _NTF_ZONES:
        register_conic_crs(
            code, "lcc", lat0, lat0, lat0, _PARIS_FROM_GREENWICH,
            600000.0, fn, ellipsoid="clarke1880ign", k0=k0,
            helmert=_WGS84_TO_NTF,
        )


def _dm(d: float, m: float) -> float:
    """degrees+minutes -> decimal degrees (sign carried by ``d``)."""
    return d + (m / 60.0 if d >= 0 else -m / 60.0)


# (code, lat1, lat2, lat0, lon0, FE, FN) — LCC 2SP zones
_SP_LCC = [
    # Colorado N/C/S (false origin 3,000,000 / 1,000,000 US survey ft)
    (26953, _dm(39, 43), _dm(40, 47), _dm(39, 20), _dm(-105, 30), 914401.8289, 304800.6096),
    (26954, _dm(38, 27), _dm(39, 45), _dm(37, 50), _dm(-105, 30), 914401.8289, 304800.6096),
    (26955, _dm(37, 14), _dm(38, 26), _dm(36, 40), _dm(-105, 30), 914401.8289, 304800.6096),
    # Florida North (E/W are TM)
    (26960, _dm(29, 35), _dm(30, 45), 29.0, _dm(-84, 30), 600000.0, 0.0),
    # Massachusetts Mainland / Island
    (26986, _dm(41, 43), _dm(42, 41), 41.0, _dm(-71, 30), 200000.0, 750000.0),
    (26987, _dm(41, 17), _dm(41, 29), 41.0, _dm(-70, 30), 500000.0, 0.0),
    # Michigan North / Central / South
    (26988, _dm(45, 29), _dm(47, 5), _dm(44, 47), -87.0, 8000000.0, 0.0),
    (26989, _dm(44, 11), _dm(45, 42), _dm(43, 19), _dm(-84, 22), 6000000.0, 0.0),
    (26990, _dm(42, 6), _dm(43, 40), _dm(41, 30), _dm(-84, 22), 4000000.0, 0.0),
    # Minnesota North / Central / South
    (26991, _dm(47, 2), _dm(48, 38), _dm(46, 30), _dm(-93, 6), 800000.0, 100000.0),
    (26992, _dm(45, 37), _dm(47, 3), 45.0, _dm(-94, 15), 800000.0, 100000.0),
    (26993, _dm(43, 47), _dm(45, 13), 43.0, -94.0, 800000.0, 100000.0),
    # Montana (single zone) / Nebraska (single zone)
    (32100, 45.0, 49.0, _dm(44, 15), _dm(-109, 30), 600000.0, 0.0),
    (32104, 40.0, 43.0, _dm(39, 50), -100.0, 500000.0, 0.0),
    # New York Long Island (E/C/W are TM)
    (32118, _dm(40, 40), _dm(41, 2), _dm(40, 10), -74.0, 300000.0, 0.0),
    # North Carolina (2,000,000 US survey ft) / South Carolina (2,000,000 intl ft)
    (32119, _dm(34, 20), _dm(36, 10), _dm(33, 45), -79.0, 609601.22, 0.0),
    (32133, _dm(32, 30), _dm(34, 50), _dm(31, 50), -81.0, 609600.0, 0.0),
    # Ohio North / South
    (32122, _dm(40, 26), _dm(41, 42), _dm(39, 40), _dm(-82, 30), 600000.0, 0.0),
    (32123, _dm(38, 44), _dm(40, 2), 38.0, _dm(-82, 30), 600000.0, 0.0),
    # Oregon North / South
    (32126, _dm(44, 20), 46.0, _dm(43, 40), _dm(-120, 30), 2500000.0, 0.0),
    (32127, _dm(42, 20), 44.0, _dm(41, 40), _dm(-120, 30), 1500000.0, 0.0),
    # Pennsylvania North / South
    (32128, _dm(40, 53), _dm(41, 57), _dm(40, 10), _dm(-77, 45), 600000.0, 0.0),
    (32129, _dm(39, 56), _dm(40, 58), _dm(39, 20), _dm(-77, 45), 600000.0, 0.0),
    # Tennessee (single zone)
    (32136, _dm(35, 15), _dm(36, 25), _dm(34, 20), -86.0, 600000.0, 0.0),
    # Texas North / North Central / Central / South Central / South
    (32137, _dm(34, 39), _dm(36, 11), 34.0, _dm(-101, 30), 200000.0, 1000000.0),
    (32138, _dm(32, 8), _dm(33, 58), _dm(31, 40), _dm(-98, 30), 600000.0, 2000000.0),
    (32139, _dm(30, 7), _dm(31, 53), _dm(29, 40), _dm(-100, 20), 700000.0, 3000000.0),
    (32140, _dm(28, 23), _dm(30, 17), _dm(27, 50), -99.0, 600000.0, 4000000.0),
    (32141, _dm(26, 10), _dm(27, 50), _dm(25, 40), _dm(-98, 30), 300000.0, 5000000.0),
    # Utah North / Central / South
    (32142, _dm(40, 43), _dm(41, 47), _dm(40, 20), _dm(-111, 30), 500000.0, 1000000.0),
    (32143, _dm(39, 1), _dm(40, 39), _dm(38, 20), _dm(-111, 30), 500000.0, 2000000.0),
    (32144, _dm(37, 13), _dm(38, 21), _dm(36, 40), _dm(-111, 30), 500000.0, 3000000.0),
    # Virginia North / South
    (32146, _dm(38, 2), _dm(39, 12), _dm(37, 40), _dm(-78, 30), 3500000.0, 2000000.0),
    (32147, _dm(36, 46), _dm(37, 58), _dm(36, 20), _dm(-78, 30), 3500000.0, 1000000.0),
    # Washington North / South
    (32148, _dm(47, 30), _dm(48, 44), 47.0, _dm(-120, 50), 500000.0, 0.0),
    (32149, _dm(45, 50), _dm(47, 20), _dm(45, 20), _dm(-120, 30), 500000.0, 0.0),
]

# (code, lat0, lon0, k0, FE, FN) — Transverse Mercator zones
_SP_TM = [
    # Alabama East / West
    (26929, _dm(30, 30), _dm(-85, 50), 1 - 1 / 25000, 200000.0, 0.0),
    (26930, 30.0, _dm(-87, 30), 1 - 1 / 15000, 600000.0, 0.0),
    # Arizona East / Central / West (FE 700,000 intl ft)
    (26948, 31.0, _dm(-110, 10), 1 - 1 / 10000, 213360.0, 0.0),
    (26949, 31.0, _dm(-111, 55), 1 - 1 / 10000, 213360.0, 0.0),
    (26950, 31.0, _dm(-113, 45), 1 - 1 / 15000, 213360.0, 0.0),
    # Florida East / West
    (26958, _dm(24, 20), -81.0, 1 - 1 / 17000, 200000.0, 0.0),
    (26959, _dm(24, 20), -82.0, 1 - 1 / 17000, 200000.0, 0.0),
    # Georgia East / West
    (26966, 30.0, _dm(-82, 10), 1 - 1 / 10000, 200000.0, 0.0),
    (26967, 30.0, _dm(-84, 10), 1 - 1 / 10000, 700000.0, 0.0),
    # Idaho East / Central / West
    (26968, _dm(41, 40), _dm(-112, 10), 1 - 1 / 19000, 200000.0, 0.0),
    (26969, _dm(41, 40), -114.0, 1 - 1 / 19000, 500000.0, 0.0),
    (26970, _dm(41, 40), _dm(-115, 45), 1 - 1 / 15000, 800000.0, 0.0),
    # Illinois East / West
    (26971, _dm(36, 40), _dm(-88, 20), 1 - 1 / 40000, 300000.0, 0.0),
    (26972, _dm(36, 40), _dm(-90, 10), 1 - 1 / 17000, 700000.0, 0.0),
    # Indiana East / West
    (26973, _dm(37, 30), _dm(-85, 40), 1 - 1 / 30000, 100000.0, 250000.0),
    (26974, _dm(37, 30), _dm(-87, 5), 1 - 1 / 30000, 900000.0, 250000.0),
    # Missouri East / Central / West
    (26996, _dm(35, 50), _dm(-90, 30), 1 - 1 / 15000, 250000.0, 0.0),
    (26997, _dm(35, 50), _dm(-92, 30), 1 - 1 / 15000, 500000.0, 0.0),
    (26998, _dm(36, 10), _dm(-94, 30), 1 - 1 / 17000, 850000.0, 0.0),
    # Nevada East / Central / West
    (32107, _dm(34, 45), _dm(-115, 35), 1 - 1 / 10000, 200000.0, 8000000.0),
    (32108, _dm(34, 45), _dm(-116, 40), 1 - 1 / 10000, 500000.0, 6000000.0),
    (32109, _dm(34, 45), _dm(-118, 35), 1 - 1 / 10000, 800000.0, 4000000.0),
    # New Jersey / New York East (same definition, different codes)
    (32111, _dm(38, 50), _dm(-74, 30), 1 - 1 / 10000, 150000.0, 0.0),
    (32115, _dm(38, 50), _dm(-74, 30), 1 - 1 / 10000, 150000.0, 0.0),
    # New York Central / West
    (32116, 40.0, _dm(-76, 35), 1 - 1 / 16000, 250000.0, 0.0),
    (32117, 40.0, _dm(-78, 35), 1 - 1 / 16000, 350000.0, 0.0),
]
