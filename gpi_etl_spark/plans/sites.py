"""Site-selection scoring — the reference's interactive query family
(HTIPNEXSITE / HTIPPLSITE / HTIPPLSITECR / PGSITE, SURVEY.md §3.3).

One lazy plan per site batch: POIs → clean+classify (40-rule
last-match-wins chain) → geodesic distance → per-category feature
widening → broadcast-model scoring; plus the top-3 nearest existing
stores (J2 kNN). The reference scores one (lat, lon) per HTTP request
with a module-level mutable accumulator (a state-leak bug across warm
invocations — SURVEY §0); this plan is pure and scores any number of
sites in one job.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gpi_etl_spark.functions.geo import haversine_meters
from gpi_etl_spark.functions.strings import fold_accents
from gpi_etl_spark.operators.classify import Rule, apply_classifier
from gpi_etl_spark.operators.featurize import geo_feature_vector
from gpi_etl_spark.operators.geo_knn import knn_join
from gpi_etl_spark.operators.score import score_with_model

#: The reference's FULL classification chain as data, in source order
#: (HTIPPLSITE/__init__.py:175-312; clones in HTIPNEXSITE/PGSITE/
#: HTIPPLSITECR). Order is semantics: later rules overwrite earlier
#: matches (last-match-wins). Field spec per rule:
#:   "name"     — matched against the cleaned poi_name (the common case)
#:   "type"     — matched against the cleaned poi_type
#:   "type_bug" — WRITTEN against poi_type but the reference loop
#:                iterates poi_name values (:181, :234, :239), so the
#:                shipped behavior matches the NAME column. compat mode
#:                reproduces that; fixed mode applies the declared field.
#: The :227 duplicate TIENDA DE CONVENIENCIA rule is kept so rule
#: indexes line up with the reference chain.
_FULL_RULES_SPEC: list[tuple[str, str, str]] = [
    (r"(?:RESTAURANT|MEAL_DELIVERY)", "OTROS RESTAURANTE", "type"),          # :175
    (r"\b(?:RESTAURANTE?)\b", "OTROS RESTAURANTE", "name"),                  # :177
    (r"(?:CALZADO|ZAPATERIA|ALMACEN|COMERCIAL|LA BODEGONA|DISTRIBUIDORA)",
     "ALMACEN", "type_bug"),                                                 # :180
    (r"(?:CLOTHING_STORE|DEPARTMENT_STORE)", "ALMACEN", "type"),             # :182
    (r"(?:BARBER|BEAUTY|BELLEZA|PELUQUER|NAILS)", "BARBERÍA/BELLEZA", "name"),  # :185
    (r"(?:IGLESIA|TEMPLO|PARROQUIA|ASAMBLEA DE DIOS|TESTIGOS?.+JEHOV)",
     "IGLESIA", "name"),                                                     # :188
    (r"(?:HOSPITAL|IGSS|IGGS|CENTRO MEDICO|APROFAM|CENTRO DE SALUD"
     r"|PUESTO DE SALUD|SANATORIO|HEALTH CENTER|EMERGENCIA|CIRUGIA"
     r"|PEDIATRICO|SANATORIUM)", "HOSPITAL", "name"),                        # :191
    (r"(?:CLINIC|MEDI|OPTIC|ODONTO|LABORATORIO|DR )", "CLINICA DE SALUD", "name"),  # :194
    (r"(?:BUS |TRANSMETRO|TRANSURBANO|BUS STATION|AUTOBUSES|TERMINAL"
     r"|ESTACION DE BUS|PARADA DE |BUSES|LITEGUA)", "PARADA DE BUS", "name"),  # :197
    (r"(?:MANUALIDADES|LIBRERIA|PAPELERIA)", "LIBRERIA", "name"),            # :200
    (r"(?:PARQUEO|ESTACIONAMIENTO|PARKING)", "PARQUEO", "name"),             # :203
    (r"(?:USAC|UNIVERSIDAD|UMG|FACULTAD|UPANA)", "UNIVERSIDAD", "name"),     # :206
    (r"(?:HOTEL|PENSION|HOSPEDAJE)", "HOTEL", "name"),                       # :209
    (r"(?:GASOLINERA|GASOLINA|ESTACION DE SERVICIO|\bGAS\b)", "GASOLINERA", "name"),  # :212
    (r"(?:MINI MUNI|MINISTRY PUBLIC|MUNICIPALITY|SECRETARIA DE"
     r"|MUNICIPALIDAD|JUZGADO|TRIBUNAL|INACIF|RENAP|MAYCOM"
     r"|ORGANISMO JUDICIAL|MINISTERIO PUBLICO|MUNICIPALIDAD)",
     "OFICINAS GUBERNAMENTALES", "name"),                                    # :215
    (r"(?:POLICE|PNC|COMISARIA|POLICIA)", "ESTACION POLICIAL", "name"),      # :218
    (r"(?:ESTACION DE BOMBEROS)", "ESTACION DE BOMBEROS", "name"),           # :221
    (r"(?:SUPER 24|SUPER PUMA|CONVENIENCIA|GASO MARKET|TIENDAS? MASS)",
     "TIENDA DE CONVENIENCIA", "name"),                                      # :224
    (r"(?:SUPER 24|SUPER PUMA|CONVENIENCIA|GASO MARKET|TIENDAS? MASS)",
     "TIENDA DE CONVENIENCIA", "name"),                                      # :227 (dup)
    (r"(?:CARNICERIA|POLLERIA|CASA DEL POLLO)", "VENTA DE CARNES", "name"),  # :230
    (r"(?:BANRURAL|CREDOMATIC|AGROMERCANTIL|BANCO|\bBAC\b|\bBAM\b|BANTRAB"
     r"|GYT|G&T|COOPERATIVA|WESTERN UNION)", "BANCO", "type_bug"),           # :233
    (r"(?:BANK)", "BANCO", "type"),                                          # :235
    (r"\b(?:ATM|CAJERO)\b", "CAJERO", "type_bug"),                           # :238
    (r"(?:ATM)", "CAJERO", "type"),                                          # :240
    (r"(?:PARQUE|CANCHA|ESTADIO|CAMPOS)", "PARQUE", "name"),                 # :243
    (r"(?:COLEGIO|INSTITUTO|LICEO|SEMINARIO|CENTRO EDUCATIVO|ESCUELA"
     r"|CENTRO DE ESTUDIOS|\bINEB|\bINTECAP)", "COLEGIO", "name"),           # :246
    (r"(?:COLEGIO|ACADEMIA|ESCUELA)(?:BAILE|FUTBOL|MUSICA)", "ACADEMIA", "name"),  # :249
    (r"(?:ALMACENES TROPIGAS|AGENCIAS? WAY|GALLO MAS GALLO|ELEKTRA|ELECKTRA"
     r"|CURACAO|ALMACENES JAPON|LA CHAPINITA|TECNO FACIL|TIENDAS MAX"
     r"|RADIOSHACK|INTELAF|ELECTRONICA PANAMERICANA|PANAMERICAN ELECTRONIC"
     r"|ABM|EL DUENDE)", "ALMACEN DE ELECTRODOMESTICOS", "name"),            # :252
    (r"(?:POLLO CAMPERO|BURGER KING|MCDONALDS|PIZZA HUT|DOMINOS PIZZA"
     r"|PAPA JOHNS|TACO BELL|HAMBURGUESAS BERLIN|HAMBURGUESAS DEL PUENTE"
     r"|POLLO BUJO|LITTLE CAESARS|LITTLE CEASERS)", "CADENA QSR", "name"),   # :255
    (r"(?:AL MACARONE|LOS GAUCHITOS|PINULITO|POLLOLANDIA|POLLO LANDIA"
     r"|QUEDELY|GUATEBURGER|GUATE BURGER|POLLO GRANJERO|POLLO EXPRESS)",
     "CADENA QSR POPULAR", "name"),                                          # :258
    (r"(?:ANTOJITOS|CAFETERIA|ASADOS|CHURRASCOS|HAMBURGUESAS|BURGER"
     r"|PUPUSERIA|PUPUSAS|CARNITA|CEVICHE|SEVICHE|CHICHARRONE|TACOS? "
     r"|SHUCO|HOT DOG|TAQUERIA|COMEDOR|ALMUERZOS|LICUADOS|CHURRASQU"
     r"|CAFETERIA)", "RESTAURANTE POPULAR", "name"),                         # :261
    (r"(?:\bCAFE\b|EL CAFETALITO|BARISTA|STARBUCKS|COFFEE|COFFE|KAPE|PATSY"
     r"|BAGEL|CAFFE|DUNKIN DONUTS|AMERICAN DOU)", "COFFEE SHOP", "name"),    # :264
    (r"(?:LA NEVERIA|HELADERIA|HELADO|POPS)", "HELADERIA", "name"),          # :267
    (r"(?:CANELLA|YAMAHA|HONDA|MOTOS |MOTOCICLETAS|MASESA|TIENDA UMA"
     r"|MOVESA|ITALIKA|HAOJUE|BAJAJ|SUZUKI)", "TIENDA MOTOCICLETAS", "name"),  # :270
    (r"(?:AGENCIA TIGO|\bTIGO\b|\bCLARO\b|AGENCIA CLARO|MOVISTAR)",
     "AGENCIA TELEFONIA", "name"),                                           # :273
    (r"(?:SUPERMERCADO|SUPER MERCADO|WALMART|DESPENSA FAMILIAR|LA TORRE"
     r"|PAIZ|MAXI BODEGA|SUPER DEL BARRIO|LA BARATA)", "SUPERMERCADO", "name"),  # :276
    (r"(?:\bMERCADO )", "MERCADO CANTONAL", "name"),                         # :279
    (r"(?:TIENDA|ABARROTERIA|ABARROTES|DEPOSITO|MAYOREO|TDA)",
     "TIENDA DE BARRIO", "name"),                                            # :282
    (r"(?:TORTILLERIA|TORTILLA)", "TORTILLERIA", "name"),                    # :285
    (r"(?:PANADERIA|PANIFICADORA|PASTELERIA|\bPAN |\bPASTELES)", "PANADERIA", "name"),  # :288
    (r"\b(?:CENTRO COMERCIAL|PLAZA|PASEO|CC|C\.C\.|C\. C\.|MALL|GRAN VIA"
     r"|GRAN CENTRO|GALERIAS|MEGA CENTRO|METRO NORTE|PRADERA)\b",
     "CENTRO COMERCIAL", "name"),                                            # :291
    (r"\b(?:TALLER|MOTO|MOTOPARTES|MOTOSERVICIOS|MOTOREPUESTOS|FIGUEPARTES"
     r"|AQUARONI|KARS|HUESERA|REPUESTOS|AUTO\s?REPUESTOS|AUTO\s?PIEZAS"
     r"|AUTO\s?PARTES|TALLER DE |ACEITERA|MOTOCENTRO|AUTOS|LUBRI|LLANTA"
     r"|BATERIAS|COPHER)\b", "REPUESTOS VEHICULOS", "name"),                 # :294
    (r"(?:FERRE|CELASA|CONSTRUCC|FERRO|FERETERIA)", "FERRETERIA", "name"),   # :297
    (r"(?:AGROVET|AGRO|AGRIC)", "AGROPECUARIA", "name"),                     # :300
    (r"(?:FARMACIA|CRUZ VERDE|PHARMACY|FARMAZUL)", "FARMACIA", "name"),      # :303
    (r"(?:LOCAL_GOVERNMENT_OFFICE)", "OFICINAS GUBERNAMENTALES", "type"),    # :306
    (r"(?:CHURCH)", "IGLESIA", "type"),                                      # :309
]

_FIELD_OF = {"name": "poi_name", "type": "poi_type"}


def full_rules(compat: bool = False) -> list[Rule]:
    """The reference's full ~40-rule chain (order preserved).

    ``compat=True`` reproduces the reference's three field-crossover
    bugs — rules written against ``poi_type`` whose loop actually
    iterates ``poi_name`` (HTIPPLSITE/__init__.py:181,234,239) — by
    matching those rules on the NAME column, bug-for-bug. The default
    (fixed) mode applies each rule to its declared field.
    """
    out = []
    for pattern, category, spec in _FULL_RULES_SPEC:
        if spec == "type_bug":
            field = "poi_name" if compat else "poi_type"
        else:
            field = _FIELD_OF[spec]
        out.append(Rule(pattern, category, field=field))
    return out


#: default chain used by the site-scoring plans (fixed-field mode)
DEFAULT_RULES = full_rules()


def classify_pois(pois: DataFrame, rules: Sequence[Rule] = DEFAULT_RULES) -> DataFrame:
    """Accent-fold + punctuation-strip both match fields (:163-171),
    then the ordered rule chain (F-STR9)."""
    cleaned = pois.withColumn("poi_name", fold_accents("poi_name")).withColumn(
        "poi_type", fold_accents("poi_type")
    )
    return apply_classifier(cleaned, rules)


def poi_features(
    pois_classified: DataFrame,
    site_cols: Sequence[str] = ("rst_cd",),
    categories: Sequence[str] | None = None,
    missing_min: float = 0.0,
    distance: str = "haversine",
) -> DataFrame:
    """Distance column (J3 as a pure expression — no iterrows loop)
    then the GEO_<CAT>_<STAT> widening (A3+R2).

    ``distance='geodesic'`` swaps in the WGS-84 pandas_udf
    (functions.geo.geodesic_meters) for exact parity with the
    reference's geopy loop (:318-322); the codegen'd Haversine default
    differs by <0.6% and is the right choice at scale."""
    if distance == "geodesic":
        from gpi_etl_spark.functions.geo import geodesic_meters
        dist_col = geodesic_meters("place_ltt", "place_lgt", "poi_ltt", "poi_lgt")
    elif distance == "haversine":
        dist_col = haversine_meters("place_ltt", "place_lgt", "poi_ltt", "poi_lgt")
    else:
        raise ValueError(f"distance must be 'haversine' or 'geodesic', got {distance!r}")
    with_dist = pois_classified.withColumn(
        "distance_mtrs", dist_col
    ).dropDuplicates()  # the reference dedupes POIs before featurizing (:315)
    return geo_feature_vector(
        with_dist,
        site_cols=list(site_cols),
        category_col="poi_category",
        distance_col="distance_mtrs",
        categories=categories,
        near_threshold=100.0,
        missing_min=missing_min,
    )


def score_sites(
    pois: DataFrame,
    model,
    rules: Sequence[Rule] = DEFAULT_RULES,
    categories: Sequence[str] | None = None,
    missing_min: float = 0.0,
) -> DataFrame:
    """POIs → forecast per site: the full HTIPNEXSITE transform chain
    as one plan (classify → distance → widen → pandas_udf predict)."""
    features = poi_features(classify_pois(pois, rules), ("rst_cd",), categories,
                            missing_min)
    return score_with_model(features, model)


def close_points(
    sites: DataFrame,
    stores: DataFrame,
    category: str | None = None,
    country: str | None = None,
    k: int = 3,
) -> DataFrame:
    """Top-3 nearest existing stores per site — the SQL Server
    STDistance TOP 3 query (:91-130) as Haversine + window top-k."""
    s = stores
    if category is not None:
        s = s.filter(F.col("CTGRY_NM") == category)
    if country is not None:
        s = s.filter(F.col("CNTRY_NM") == country)
    return knn_join(
        sites, s, k=k, query_id="rst_cd", q_lat="place_ltt", q_lon="place_lgt"
    ).select("rst_cd", "POS_NM", "CTGRY_NM", "mdist", "row_index")
