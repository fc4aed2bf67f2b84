"""ClickHouse function → Spark SQL expression mapping (SURVEY §2.9).

Three rewrite shapes, applied by translate.py over the token stream:

- RENAME: same call shape, new name (``lcase`` → ``lower``).
- TEMPLATE: args re-arranged into a Spark expression string;
  ``{0}``/``{1}``… substitute the raw arg token text, ``{*}`` all
  args comma-joined, ``{0:lit}`` unquotes a string literal into a
  bare keyword (for unit args).
- Parameterized combinators ``quantile(0.5)(x)`` are normalized by
  translate.py into ``__PARAM__`` pseudo-args before template lookup.

The growth surface of the project (SURVEY §2.9 closing note): add a
row here and the dialect accepts another CH spelling.
"""

from __future__ import annotations

from .tokenizer import split_text

# Case-insensitive CH name → Spark name. Call shape unchanged.
RENAMES: dict[str, str] = {
    # type conversions (Spark cast-shorthand functions)
    "tostring": "string",
    "toint8": "tinyint",
    "toint16": "smallint",
    "toint32": "int",
    "toint64": "bigint",
    "touint8": "smallint",
    "touint16": "int",
    "touint32": "bigint",
    "touint64": "bigint",
    "tofloat32": "float",
    "tofloat64": "double",
    "todate": "date",
    # date parts
    "toyear": "year",
    "tomonth": "month",
    "todayofmonth": "day",
    "tohour": "hour",
    "tominute": "minute",
    "tosecond": "second",
    "toquarter": "quarter",
    "today": "current_date",
    # strings
    "lcase": "lower",
    "ucase": "upper",
    "position": "instr",
    "positioncaseinsensitive": "instr",
    "concatws": "concat_ws",
    "replaceall": "replace",
    "lengthutf8": "char_length",
    "char_length": "char_length",
    "trimboth": "trim",
    "rev": "reverse",
    "startswith": "startswith",
    "endswith": "endswith",
    "match": "rlike",
    "extractall": "regexp_extract_all",
    "replaceregexpall": "regexp_replace",
    # arrays / maps
    "arrayjoin": "explode",
    "has": "array_contains",
    "indexof": "array_position",
    "arrayreverse": "reverse",
    "arrayconcat": "concat",
    "arrayslice": "slice",
    "arraydistinct": "array_distinct",
    "arrayintersect": "array_intersect",
    "arrayflatten": "flatten",
    "mapkeys": "map_keys",
    "mapvalues": "map_values",
    # aggregates
    "uniq": "approx_count_distinct",
    "uniqcombined": "approx_count_distinct",
    "uniqhll12": "approx_count_distinct",
    "any": "any_value",
    "anylast": "any_value",
    "argmin": "min_by",
    "argmax": "max_by",
    "grouparray": "collect_list",
    "groupuniqarray": "collect_set",
    "corr": "corr",
    # conditionals / misc
    "ifnull": "ifnull",
    "nullif": "nullif",
    "isnull": "isnull",
    "isnotnull": "isnotnull",
    "greatest": "greatest",
    "least": "least",
    "jsonextractraw": "get_json_object",
    "cityhash64": "xxhash64",  # substitute: layout/sampling key only
    "farmhash64": "xxhash64",
    "halfmd5": "xxhash64",
    "hex": "hex",
    "e": "e",
    "pi": "pi",
}

# CH name → Spark expression template.
TEMPLATES: dict[str, str] = {
    "toyyyymm": "CAST(date_format({0}, 'yyyyMM') AS INT)",
    "tostartofminute": "date_trunc('minute', {0})",
    "tostartoffiveminute": "to_timestamp(floor(unix_timestamp({0}) / 300) * 300)",
    "tostartofhour": "date_trunc('hour', {0})",
    "tostartofday": "date_trunc('day', {0})",
    "tostartofweek": "date_trunc('week', {0})",
    "tostartofmonth": "date_trunc('month', {0})",
    "tostartofquarter": "date_trunc('quarter', {0})",
    "tostartofyear": "date_trunc('year', {0})",
    "tomonday": "CAST(date_trunc('week', {0}) AS DATE)",
    "todayofweek": "((dayofweek({0}) + 5) % 7) + 1",  # CH: Mon=1..Sun=7
    "now": "date_trunc('second', current_timestamp())",  # CH DateTime is second-precision
    "intdiv": "({0} div {1})",
    "intdivorzero": "CASE WHEN {1} = 0 THEN 0 ELSE ({0} div {1}) END",
    "moduloorzero": "CASE WHEN {1} = 0 THEN 0 ELSE ({0} % {1}) END",
    # CH if() takes a UInt8 condition (any numeric, nonzero = true);
    # Spark's IF requires a boolean — boolean() is a no-op on booleans
    # here (ANSI off) and maps nonzero numerics to true, matching CH
    "if": "IF(boolean({0}), {1}, {2})",
    "empty": "(length({0}) = 0)",
    # comparison-operator function spellings
    "equals": "({0} = {1})",
    "notequals": "({0} <> {1})",
    "less": "({0} < {1})",
    "greater": "({0} > {1})",
    "lessorequals": "({0} <= {1})",
    "greaterorequals": "({0} >= {1})",
    "notempty": "(length({0}) > 0)",
    "splitbychar": "split({1}, {0})",
    "splitbystring": "split({1}, {0})",
    "arraymap": "transform({1}, {0})",
    "arraysum": "aggregate({0}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)",
    "arraystringconcat": "array_join({*})",
    "range": "sequence(0, {0} - 1)",
    "uniqexact": "count(DISTINCT {0})",
    "countif": "count_if(boolean({0}))",
    "sumif": "sum(CASE WHEN boolean({1}) THEN {0} END)",
    "avgif": "avg(CASE WHEN boolean({1}) THEN {0} END)",
    "minif": "min(CASE WHEN boolean({1}) THEN {0} END)",
    "maxif": "max(CASE WHEN boolean({1}) THEN {0} END)",
    "median": "percentile({0}, 0.5)",
    "datediff": "timestampdiff({0:lit}, {1}, {2})",
    "adddays": "({0} + make_interval(0, 0, 0, {1}))",
    "subtractdays": "({0} - make_interval(0, 0, 0, {1}))",
    "addhours": "({0} + make_interval(0, 0, 0, 0, {1}))",
    "addminutes": "({0} + make_interval(0, 0, 0, 0, 0, {1}))",
    "addmonths": "add_months({0}, {1})",
    "formatdatetime": "date_format({0}, {1})",
    # best-effort: ISO via Spark default, then the common non-ISO
    # shapes CH accepts (log formats, dotted EU dates, compact)
    "parsedatetimebesteffort": "coalesce(try_to_timestamp({0}), try_to_timestamp({0}, 'dd/MMM/yyyy HH:mm:ss'), try_to_timestamp({0}, 'dd/MM/yyyy HH:mm:ss'), try_to_timestamp({0}, 'dd.MM.yyyy HH:mm:ss'), try_to_timestamp({0}, 'yyyyMMddHHmmss'), try_to_timestamp({0}, 'dd/MMM/yyyy:HH:mm:ss'), try_to_timestamp({0}, 'dd/MMM/yyyy'), try_to_timestamp({0}, 'dd.MM.yyyy'), try_to_timestamp({0}, 'MM/dd/yyyy'))",
    "parsedatetimebesteffortornull": "coalesce(try_to_timestamp({0}), try_to_timestamp({0}, 'dd/MMM/yyyy HH:mm:ss'), try_to_timestamp({0}, 'dd/MM/yyyy HH:mm:ss'), try_to_timestamp({0}, 'dd.MM.yyyy HH:mm:ss'), try_to_timestamp({0}, 'yyyyMMddHHmmss'), try_to_timestamp({0}, 'dd/MMM/yyyy:HH:mm:ss'), try_to_timestamp({0}, 'dd/MMM/yyyy'), try_to_timestamp({0}, 'dd.MM.yyyy'), try_to_timestamp({0}, 'MM/dd/yyyy'))",
    "yesterday": "date_sub(current_date(), 1)",
    "version": "'25.5.2'",
    "currentdatabase": "current_database()",
    "multiif": None,  # variadic: handled in translate._multi_if
    "trimleft": "ltrim({0})",
    "trimright": "rtrim({0})",
    "substringutf8": "substring({*})",
    "leftpad": "lpad({*})",
    "rightpad": "rpad({*})",
    "tounixtimestamp": "unix_timestamp({0})",
    "fromunixtimestamp": "to_timestamp({0})",
    "todecimal32": "CAST({0} AS DECIMAL(9, {1}))",
    "todecimal64": "CAST({0} AS DECIMAL(18, {1}))",
    "todecimal128": "CAST({0} AS DECIMAL(38, {1}))",
}

# Parameterized aggregates: name(params)(args) → template over params+args.
# {p0} = first parameter, {0} = first argument.
PARAMETERIZED: dict[str, str] = {
    "quantile": "percentile_approx({0}, {p0})",
    "quantileexact": "percentile({0}, {p0})",
    "quantiletdigest": "percentile_approx({0}, {p0})",
    "quantiles": "percentile_approx({0}, array({p*}))",
    "quantilesexact": "percentile({0}, array({p*}))",
}

# CH JSON accessors take a KEY ('k'); Spark takes a JSONPath ('$.k')
TEMPLATES["jsonextractstring"] = "get_json_object({0}, concat('$.', {1}))"
TEMPLATES["visitparamextractstring"] = "get_json_object({0}, concat('$.', {1}))"
TEMPLATES["jsonextractint"] = "CAST(get_json_object({0}, concat('$.', {1})) AS BIGINT)"
TEMPLATES["jsonextractfloat"] = "CAST(get_json_object({0}, concat('$.', {1})) AS DOUBLE)"
TEMPLATES["jsonextractbool"] = "CAST(get_json_object({0}, concat('$.', {1})) AS BOOLEAN)"
TEMPLATES["jsonhas"] = "(get_json_object({0}, concat('$.', {1})) IS NOT NULL)"
TEMPLATES["visitparamhas"] = "(get_json_object({0}, concat('$.', {1})) IS NOT NULL)"

# arithmetic function spellings (CH exposes operators as functions)
TEMPLATES["plus"] = "({0} + {1})"
TEMPLATES["minus"] = "({0} - {1})"
TEMPLATES["multiply"] = "({0} * {1})"
TEMPLATES["divide"] = "(CAST({0} AS DOUBLE) / {1})"  # CH / is float division
TEMPLATES["modulo"] = "({0} % {1})"
TEMPLATES["negate"] = "(-{0})"

# misc CH spellings
TEMPLATES["sha256"] = "sha2({0}, 256)"
TEMPLATES["exp2"] = "power(2, {0})"
TEMPLATES["exp10"] = "power(10, {0})"
TEMPLATES["assumenotnull"] = "{0}"
TEMPLATES["tuple"] = "struct({*})"
TEMPLATES["arrayenumerate"] = "sequence(1, size({0}))"
TEMPLATES["arrayelement"] = "element_at({0}, {1})"
TEMPLATES["arraypushback"] = "array_append({0}, {1})"
TEMPLATES["arraypushfront"] = "array_prepend({0}, {1})"
TEMPLATES["arrayreduce"] = None  # string agg name arg; not supported
TEMPLATES["dateadd"] = "timestampadd({0:lit}, {1}, {2})"
TEMPLATES["datesub"] = "timestampadd({0:lit}, -({1}), {2})"
TEMPLATES["toweek"] = "weekofyear({0})"
TEMPLATES["todatetime64"] = "CAST({0} AS TIMESTAMP)"
RENAMES["log2"] = "log2"
RENAMES["log10"] = "log10"
RENAMES["ln"] = "ln"
RENAMES["md5"] = "md5"
RENAMES["ilike"] = "ilike"

# date/time breadth (gap-hunt round 4)
RENAMES["todate32"] = "date"
RENAMES["todayofyear"] = "dayofyear"
RENAMES["toisoweek"] = "weekofyear"  # Spark weekofyear is ISO-8601
RENAMES["tolastdayofmonth"] = "last_day"
RENAMES["makedate"] = "make_date"
TEMPLATES["makedatetime"] = "make_timestamp({0}, {1}, {2}, {3}, {4}, {5})"
TEMPLATES["totimezone"] = "from_utc_timestamp({0}, {1})"
TEMPLATES["toisoyear"] = (
    "CAST(date_format(date_trunc('week', {0}) + interval 3 days, 'yyyy') AS INT)"
)
TEMPLATES["toyearweek"] = (
    "(CAST(date_format(date_trunc('week', {0}) + interval 3 days, 'yyyy') AS INT) "
    "* 100 + weekofyear({0}))"
)
TEMPLATES["torelativedaynum"] = "unix_date(CAST({0} AS DATE))"
TEMPLATES["timeslot"] = "to_timestamp(floor(unix_timestamp({0}) / 1800) * 1800)"
TEMPLATES["age"] = "timestampdiff({0:lit}, {1}, {2})"
TEMPLATES["datename"] = (
    "CASE lower({0}) WHEN 'year' THEN date_format({1}, 'yyyy') "
    "WHEN 'quarter' THEN CAST(quarter({1}) AS STRING) "
    "WHEN 'month' THEN date_format({1}, 'MMMM') "
    "WHEN 'week' THEN CAST(weekofyear({1}) AS STRING) "
    "WHEN 'dayofyear' THEN CAST(dayofyear({1}) AS STRING) "
    "WHEN 'day' THEN CAST(day({1}) AS STRING) "
    "WHEN 'weekday' THEN date_format({1}, 'EEEE') "
    "WHEN 'hour' THEN CAST(hour({1}) AS STRING) "
    "WHEN 'minute' THEN CAST(minute({1}) AS STRING) "
    "WHEN 'second' THEN CAST(second({1}) AS STRING) END"
)
TEMPLATES["addweeks"] = "date_add({0}, 7 * ({1}))"
TEMPLATES["addyears"] = "add_months({0}, 12 * ({1}))"
TEMPLATES["addseconds"] = "({0} + make_interval(0, 0, 0, 0, 0, 0, {1}))"
TEMPLATES["subtractweeks"] = "date_sub({0}, 7 * ({1}))"
TEMPLATES["subtractmonths"] = "add_months({0}, -({1}))"
TEMPLATES["subtractyears"] = "add_months({0}, -12 * ({1}))"
TEMPLATES["subtracthours"] = "({0} - make_interval(0, 0, 0, 0, {1}))"
TEMPLATES["subtractminutes"] = "({0} - make_interval(0, 0, 0, 0, 0, {1}))"
TEMPLATES["subtractseconds"] = "({0} - make_interval(0, 0, 0, 0, 0, 0, {1}))"
TEMPLATES["tointervalsecond"] = "make_interval(0, 0, 0, 0, 0, 0, {0})"
TEMPLATES["tointervalminute"] = "make_interval(0, 0, 0, 0, 0, {0})"
TEMPLATES["tointervalhour"] = "make_interval(0, 0, 0, 0, {0})"
TEMPLATES["tointervalday"] = "make_interval(0, 0, 0, {0})"
TEMPLATES["tointervalweek"] = "make_interval(0, 0, {0})"
TEMPLATES["tointervalmonth"] = "make_interval(0, {0})"
TEMPLATES["tointervalyear"] = "make_interval({0})"

# aggregate combinator breadth (gap-hunt round 3)
TEMPLATES["anyif"] = "any_value(CASE WHEN {1} THEN {0} END, true)"
TEMPLATES["uniqif"] = "approx_count_distinct(CASE WHEN {1} THEN {0} END)"
TEMPLATES["countdistinct"] = "count(DISTINCT {*})"
RENAMES["uniqtheta"] = "approx_count_distinct"
# -Array combinators fold the arrays into the aggregate's domain
TEMPLATES["sumarray"] = (
    "sum(aggregate({0}, CAST(0 AS DOUBLE), (acc, x) -> acc + x))"
)
TEMPLATES["avgarray"] = (
    "(sum(aggregate({0}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)) / sum(size({0})))"
)
TEMPLATES["minarray"] = "min(array_min({0}))"
TEMPLATES["maxarray"] = "max(array_max({0}))"
TEMPLATES["countarray"] = "sum(size({0}))"

# string search family
TEMPLATES["countsubstrings"] = (
    "CAST(CASE WHEN length({1}) = 0 THEN 0 ELSE "
    "(length({0}) - length(replace({0}, {1}, ''))) / length({1}) END AS BIGINT)"
)
TEMPLATES["multisearchany"] = "exists({1}, p -> contains({0}, p))"

# array predicates / constructors / misc (gap-hunt round 2)
RENAMES["arrayzip"] = "arrays_zip"
RENAMES["generateuuidv4"] = "uuid"
RENAMES["randcanonical"] = "rand"
RENAMES["isnan"] = "isnan"
TEMPLATES["arrayfirstindex"] = "array_position(transform({1}, {0}), true)"
TEMPLATES["isfinite"] = "(NOT isnan({0}) AND abs({0}) <> double('Infinity'))"
TEMPLATES["isinfinite"] = "(abs({0}) = double('Infinity'))"
TEMPLATES["rand"] = "CAST(floor(rand() * 4294967296) AS BIGINT)"  # CH UInt32
TEMPLATES["rand64"] = "CAST(floor(rand() * 9.2233720368547758e18) AS BIGINT)"
for _t, _s in (
    ("string", "STRING"),
    ("uint8", "SMALLINT"),
    ("uint16", "INT"),
    ("uint32", "BIGINT"),
    ("uint64", "BIGINT"),
    ("int8", "TINYINT"),
    ("int16", "SMALLINT"),
    ("int32", "INT"),
    ("int64", "BIGINT"),
    ("float32", "FLOAT"),
    ("float64", "DOUBLE"),
    ("date", "DATE"),
    ("datetime", "TIMESTAMP"),
):
    TEMPLATES[f"emptyarray{_t}"] = f"CAST(array() AS ARRAY<{_s}>)"

# readable/rendering helpers + misc numeric spellings
TEMPLATES["roundtoexp2"] = (
    "CASE WHEN {0} <= 0 THEN 0 ELSE CAST(pow(2, floor(log2({0}))) AS BIGINT) END"
)
TEMPLATES["formatreadablesize"] = (
    "CASE WHEN {0} < 1024 THEN concat(regexp_replace(format_number(CAST({0} AS DOUBLE), 2), ',', ''), ' B') "
    "WHEN {0} < 1048576 THEN concat(regexp_replace(format_number({0} / 1024.0, 2), ',', ''), ' KiB') "
    "WHEN {0} < 1073741824 THEN concat(regexp_replace(format_number({0} / 1048576.0, 2), ',', ''), ' MiB') "
    "ELSE concat(regexp_replace(format_number({0} / 1073741824.0, 2), ',', ''), ' GiB') END"
)
TEMPLATES["formatreadablequantity"] = (
    "CASE WHEN {0} < 1000 THEN regexp_replace(format_number(CAST({0} AS DOUBLE), 2), ',', '') "
    "WHEN {0} < 1000000 THEN concat(regexp_replace(format_number({0} / 1000.0, 2), ',', ''), ' thousand') "
    "WHEN {0} < 1000000000 THEN concat(regexp_replace(format_number({0} / 1000000.0, 2), ',', ''), ' million') "
    "ELSE concat(regexp_replace(format_number({0} / 1000000000.0, 2), ',', ''), ' billion') END"
)
TEMPLATES["bar"] = (
    "repeat('█', CAST(round(({0} - {1}) / (({2}) - ({1})) * ({3})) AS INT))"
)
TEMPLATES["ifnotfinite"] = (
    "CASE WHEN isnan({0}) OR {0} = double('Infinity') OR {0} = double('-Infinity') "
    "THEN {1} ELSE {0} END"
)
TEMPLATES["tofixedstring"] = "{0}"  # length check is a write-side concern

# bit ops keep CH call shape but are operators in Spark
TEMPLATES["bitand"] = "({0} & {1})"
TEMPLATES["bitor"] = "({0} | {1})"
TEMPLATES["bitxor"] = "({0} ^ {1})"
TEMPLATES["bitnot"] = "(~{0})"
TEMPLATES["bitshiftleft"] = "shiftleft({0}, {1})"
TEMPLATES["bitshiftright"] = "shiftright({0}, {1})"

# URL function family (CH URL functions; the CH-dialect ClickBench
# variants lean on these — SURVEY §2.9 growth surface). Spark's
# parse_url is the JVM-side workhorse; CH returns '' where Java
# returns NULL, hence the coalesce wrappers. CH's protocol() has no
# trailing colon and works on scheme-less hosts only approximately —
# divergences documented in tests/test_dialect.py.
TEMPLATES["protocol"] = "coalesce(parse_url({0}, 'PROTOCOL'), '')"
TEMPLATES["domain"] = "coalesce(parse_url({0}, 'HOST'), '')"
TEMPLATES["domainwithoutwww"] = (
    "regexp_replace(coalesce(parse_url({0}, 'HOST'), ''), '^www\\\\.', '')"
)
TEMPLATES["topleveldomain"] = (
    "regexp_extract(coalesce(parse_url({0}, 'HOST'), ''), '\\\\.([^.]+)$', 1)"
)
TEMPLATES["path"] = "coalesce(parse_url({0}, 'PATH'), '')"
TEMPLATES["pathfull"] = (
    "concat(coalesce(parse_url({0}, 'PATH'), ''), "
    "CASE WHEN parse_url({0}, 'QUERY') IS NULL THEN '' "
    "ELSE concat('?', parse_url({0}, 'QUERY')) END)"
)
TEMPLATES["querystring"] = "coalesce(parse_url({0}, 'QUERY'), '')"
TEMPLATES["fragment"] = "coalesce(parse_url({0}, 'REF'), '')"
TEMPLATES["extracturlparameter"] = "coalesce(parse_url({0}, 'QUERY', {1}), '')"
TEMPLATES["cutquerystring"] = "regexp_replace({0}, '\\\\?[^#]*', '')"
TEMPLATES["cutfragment"] = "regexp_replace({0}, '#.*', '')"
TEMPLATES["cutquerystringandfragment"] = "regexp_replace({0}, '[?#].*', '')"
TEMPLATES["cutwww"] = (
    "regexp_replace({0}, '^(([a-z]+://)?)(www\\\\.)', '$1')"
)

# function breadth (gap-probe round 3): 12 misses from a 57-function
# sweep of common CH spellings through the engine
RENAMES["bitcount"] = "bit_count"
RENAMES["lowerutf8"] = "lower"  # Spark strings are UTF-8 native
RENAMES["upperutf8"] = "upper"
RENAMES["concatwithseparator"] = "concat_ws"
RENAMES["base64encode"] = "base64"
TEMPLATES["base64decode"] = "CAST(unbase64({0}) AS STRING)"
# CH returns '' (not NULL) when the input is not valid base64
TEMPLATES["trybase64decode"] = (
    "coalesce(CAST(try_to_binary({0}, 'base64') AS STRING), '')"
)
TEMPLATES["tonullable"] = "{0}"
TEMPLATES["ifempty"] = "CASE WHEN {0} = '' THEN {1} ELSE {0} END"
TEMPLATES["replaceone"] = (
    "CASE WHEN instr({0}, {1}) > 0 THEN concat("
    "substring({0}, 1, instr({0}, {1}) - 1), {2}, "
    "substring({0}, instr({0}, {1}) + length({1}))) ELSE {0} END"
)
TEMPLATES["replaceregexpone"] = "regexp_replace({0}, {1}, {2})"  # best effort
TEMPLATES["arrayuniq"] = "size(array_distinct({0}))"
TEMPLATES["tostartoffiveminutes"] = (
    "timestamp_seconds(CAST(floor(unix_timestamp({0}) / 300) AS BIGINT) * 300)"
)
TEMPLATES["tostartoftenminutes"] = (
    "timestamp_seconds(CAST(floor(unix_timestamp({0}) / 600) AS BIGINT) * 600)"
)
TEMPLATES["tostartoffifteenminutes"] = (
    "timestamp_seconds(CAST(floor(unix_timestamp({0}) / 900) AS BIGINT) * 900)"
)
# JSONLength: array length, else object key count (CH does both)
TEMPLATES["jsonlength"] = (
    "coalesce(json_array_length({0}), size(json_object_keys({0})))"
)
# erf via Abramowitz-Stegun 7.1.26 (|error| <= 1.5e-7; Spark has no
# native erf; good enough for CH-parity analytics use)
TEMPLATES["erf"] = (
    "(sign({0}) * (1.0 - (((((1.061405429 * (1.0 / (1.0 + 0.3275911 * abs({0}))) "
    "- 1.453152027) * (1.0 / (1.0 + 0.3275911 * abs({0}))) + 1.421413741) "
    "* (1.0 / (1.0 + 0.3275911 * abs({0}))) - 0.284496736) "
    "* (1.0 / (1.0 + 0.3275911 * abs({0}))) + 0.254829592) "
    "* (1.0 / (1.0 + 0.3275911 * abs({0}))) * exp(-({0}) * ({0})))))"
)
# arrayCompact removes CONSECUTIVE duplicates only (order-preserving);
# the old array_distinct rename dropped non-adjacent repeats too
TEMPLATES["arraycompact"] = (
    "transform(filter(transform({0}, (x, i) -> struct(x AS v, i AS ix)), "
    "s -> s.ix = 0 OR NOT (s.v <=> element_at({0}, s.ix))), s -> s.v)"
)

# aggregate breadth (gap-probe round 3, second sweep)
RENAMES["anyheavy"] = "mode"        # approximate majority element
RENAMES["sumwithoverflow"] = "sum"  # non-ANSI sum wraps, like CH
RENAMES["laginframe"] = "lag"
RENAMES["leadinframe"] = "lead"
RENAMES["skewpop"] = "skewness"     # both are population mu3/sigma^3
RENAMES["covarpop"] = "covar_pop"
RENAMES["covarsamp"] = "covar_samp"
RENAMES["stddevpop"] = "stddev_pop"
RENAMES["stddevsamp"] = "stddev_samp"
RENAMES["varpop"] = "var_pop"
RENAMES["varsamp"] = "var_samp"
# Spark kurtosis is EXCESS population kurtosis; CH kurtPop is raw
TEMPLATES["kurtpop"] = "(kurtosis({0}) + 3.0)"
TEMPLATES["countequal"] = "size(filter({0}, v -> v <=> {1}))"
TEMPLATES["avgweighted"] = "(sum({0} * {1}) / sum({1}))"
# conditional arg-extrema: null ordering key excludes the row
TEMPLATES["argminif"] = "min_by({0}, CASE WHEN {2} THEN {1} END)"
TEMPLATES["argmaxif"] = "max_by({0}, CASE WHEN {2} THEN {1} END)"
TEMPLATES["countdistinctif"] = "count(DISTINCT CASE WHEN {1} THEN {0} END)"
TEMPLATES["uniqexactif"] = "count(DISTINCT CASE WHEN {1} THEN {0} END)"
# (k, b) = least-squares slope/intercept, CH's named-tuple shape
TEMPLATES["simplelinearregression"] = (
    "named_struct('k', (covar_pop({0}, {1}) / var_pop({0})), "
    "'b', (avg({1}) - (covar_pop({0}, {1}) / var_pop({0})) * avg({0})))"
)
# (y at max x - y at min x) / (max x - min x)
TEMPLATES["boundingratio"] = (
    "((max_by({1}, {0}) - min_by({1}, {0})) / (max({0}) - min({0})))"
)
# parameterized: name(params)(args)
PARAMETERIZED["topk"] = (
    # frequency-ranked distinct values, top p0; exact (CH's is approx)
    "transform(slice(array_sort(transform(array_distinct(collect_list({0})), "
    "d -> struct(size(filter(collect_list({0}), v -> v <=> d)) AS c, d AS v)), "
    "(a, b) -> CASE WHEN a.c > b.c THEN -1 WHEN a.c < b.c THEN 1 "
    "WHEN a.v < b.v THEN -1 WHEN a.v > b.v THEN 1 ELSE 0 END), "
    "1, {p0}), s -> s.v)"
)
PARAMETERIZED["grouparraysample"] = "slice(shuffle(collect_list({0})), 1, {p0})"
PARAMETERIZED["grouparray"] = "slice(collect_list({0}), 1, {p0})"  # groupArray(n)(x)

# server-context spellings (third sweep)
TEMPLATES["fqdn"] = "'localhost'"    # single-node engine, like the ref
TEMPLATES["hostname"] = "'localhost'"
TEMPLATES["tomodifiedjulianday"] = "datediff(CAST({0} AS DATE), DATE'1858-11-17')"
TEMPLATES["frommodifiedjulianday"] = "date_add(DATE'1858-11-17', CAST({0} AS INT))"

# map-valued aggregates: per-key fold over the collected maps (keys
# preserved, values widened to double like CH widens to the sum type);
# O(n_rows x n_distinct_keys) per group, the semantics' cost either way
_MAP_KEYS_UNION = (
    "array_sort(array_distinct(flatten("
    "transform(collect_list({0}), m -> map_keys(m)))))"
)
TEMPLATES["summap"] = (
    "map_from_entries(transform(" + _MAP_KEYS_UNION + ", "
    "k -> struct(k, aggregate(collect_list({0}), CAST(0 AS DOUBLE), "
    "(acc, m) -> acc + coalesce(CAST(element_at(m, k) AS DOUBLE), 0)))))"
)
TEMPLATES["minmap"] = (
    "map_from_entries(transform(" + _MAP_KEYS_UNION + ", "
    "k -> struct(k, array_min(transform(collect_list({0}), "
    "m -> CAST(element_at(m, k) AS DOUBLE))))))"
)
TEMPLATES["maxmap"] = (
    "map_from_entries(transform(" + _MAP_KEYS_UNION + ", "
    "k -> struct(k, array_max(transform(collect_list({0}), "
    "m -> CAST(element_at(m, k) AS DOUBLE))))))"
)

# Shannon entropy (log2) of the value distribution — per-distinct
# frequency fold over the collected group, like the map aggregates
TEMPLATES["entropy"] = (
    "aggregate(transform(array_distinct(collect_list({0})), "
    "d -> size(filter(collect_list({0}), v -> v <=> d)) "
    "/ CAST(size(collect_list({0})) AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, p) -> acc - p * log2(p))"
)

# date/time family gaps (round-3 fifth sweep)
TEMPLATES["tostartofsecond"] = "date_trunc('second', {0})"
TEMPLATES["totime"] = (  # CH maps to 1970-01-02 preserving time-of-day
    "(TIMESTAMP'1970-01-02 00:00:00' + make_interval(0, 0, 0, 0, "
    "hour({0}), minute({0}), second({0})))"
)
TEMPLATES["now64"] = "current_timestamp()"  # micros precision in Spark
TEMPLATES["nowinblock"] = "current_timestamp()"
TEMPLATES["tounixtimestamp64milli"] = "(unix_millis({0}))"
TEMPLATES["tounixtimestamp64micro"] = "(unix_micros({0}))"
TEMPLATES["tounixtimestamp64nano"] = "(unix_micros({0}) * 1000)"
TEMPLATES["timezone"] = "current_timezone()"
TEMPLATES["servertimezone"] = "current_timezone()"
TEMPLATES["tolastdayofweek"] = "date_add(date_trunc('week', {0}), 6)"
TEMPLATES["toyyyymmdd"] = "CAST(date_format({0}, 'yyyyMMdd') AS INT)"
TEMPLATES["toyyyymmddhhmmss"] = (
    "CAST(date_format({0}, 'yyyyMMddHHmmss') AS BIGINT)"
)
TEMPLATES["torelativehournum"] = "CAST(floor(unix_timestamp({0}) / 3600) AS BIGINT)"
TEMPLATES["torelativeminutenum"] = "CAST(floor(unix_timestamp({0}) / 60) AS BIGINT)"
TEMPLATES["torelativesecondnum"] = "unix_timestamp({0})"
TEMPLATES["todayssinceyearzero"] = (
    "(datediff(CAST({0} AS DATE), DATE'1970-01-01') + 719528)"
)

# string/JSON/map family gaps (round-3 sixth sweep)
RENAMES["substringindex"] = "substring_index"
RENAMES["mid"] = "substring"
RENAMES["jsonextractkeys"] = "json_object_keys"
RENAMES["jsonarraylength"] = "json_array_length"
RENAMES["mapcontains"] = "map_contains_key"
RENAMES["mapfromarrays"] = "map_from_arrays"
TEMPLATES["tovalidutf8"] = "{0}"  # Spark strings are already valid UTF-8
TEMPLATES["splitbyregexp"] = "split({1}, {0})"
TEMPLATES["splitbywhitespace"] = "filter(split({0}, '\\\\s+'), x -> x != '')"
TEMPLATES["tokens"] = "filter(split({0}, '[^A-Za-z0-9]+'), x -> x != '')"
TEMPLATES["ngrams"] = (
    "CASE WHEN length({0}) < {1} THEN array() "
    "ELSE transform(sequence(1, length({0}) - {1} + 1), "
    "i -> substring({0}, i, {1})) END"
)
TEMPLATES["isvalidjson"] = "(get_json_object({0}, '$') IS NOT NULL)"
TEMPLATES["todecimalstring"] = "replace(format_number(CAST({0} AS DOUBLE), {1}), ',', '')"
# query-literal anonymizer: strings then bare numbers → ?
TEMPLATES["normalizequery"] = (
    "regexp_replace(regexp_replace({0}, \"'[^']*'\", '?'), "
    "'(^|[^A-Za-z0-9_])[0-9]+', '$1?')"
)

# hash/bit/geo/random families (round-3 seventh sweep; bit-exact
# since r5). murmurHash2/3, sipHash64/128 and wyHash64 route to the
# spec-exact implementations in functions/ch_hashes.py — for a single
# String argument the values are bit-identical to ClickHouse
# (murmur3 + SipHash verified against Guava + the SipHash paper
# vector in TestBitExactHashes). concat_ws(CHAR(1), args) is an exact
# identity for one string argument; numeric args hash their string
# rendering and multi-arg calls hash the joined rendering (documented
# stand-in — CH hashes raw binary representations there). cityHash64/
# farmHash64 remain stable stand-ins (layout/sampling keys only).
TEMPLATES["murmurhash3_32"] = "chMurmurHash3_32(concat_ws(CHAR(1), {*}))"
TEMPLATES["murmurhash2_64"] = "chMurmurHash2_64(concat_ws(CHAR(1), {*}))"
TEMPLATES["murmurhash3_64"] = "chMurmurHash3_64(concat_ws(CHAR(1), {*}))"
TEMPLATES["murmurhash3_128"] = "chMurmurHash3_128(concat_ws(CHAR(1), {*}))"
TEMPLATES["wyhash64"] = "chWyHash64(concat_ws(CHAR(1), {*}))"
TEMPLATES["siphash64"] = "chSipHash64(concat_ws(CHAR(1), {*}))"
TEMPLATES["siphash128"] = "chSipHash128(concat_ws(CHAR(1), {*}))"
# exact Java String.hashCode (int32 wraparound fold)
TEMPLATES["javahash"] = (
    "aggregate(split({0}, ''), 0, "
    "(acc, c) -> CAST(acc * 31 + coalesce(ascii(c), 0) AS INT))"
)
TEMPLATES["sha1"] = "unhex(\x00sha1\x00({0}))"
TEMPLATES["sha224"] = "unhex(sha2({0}, 224))"
TEMPLATES["sha512"] = "unhex(sha2({0}, 512))"
TEMPLATES["crc32"] = "\x00crc32\x00(CAST({0} AS BINARY))"
TEMPLATES["crc32ieee"] = "\x00crc32\x00(CAST({0} AS BINARY))"
TEMPLATES["bittest"] = "CAST((shiftrightunsigned({0}, {1}) & 1) AS TINYINT)"
TEMPLATES["bitrotateleft"] = (
    "(shiftleft({0}, {1}) | shiftrightunsigned({0}, 64 - {1}))"
)
TEMPLATES["bitrotateright"] = (
    "(shiftrightunsigned({0}, {1}) | shiftleft({0}, 64 - {1}))"
)
TEMPLATES["bithammingdistance"] = "bit_count({0} ^ {1})"
# haversine great-circle distance in meters (CH uses a close sphere
# radius; values agree to ~0.3%)
_HAVERSINE = (
    "(2 * 6371000.0 * asin(sqrt("
    "pow(sin(radians({3} - {1}) / 2), 2) + cos(radians({1})) "
    "* cos(radians({3})) * pow(sin(radians({2} - {0}) / 2), 2))))"
)
TEMPLATES["greatcircledistance"] = _HAVERSINE
TEMPLATES["geodistance"] = _HAVERSINE
TEMPLATES["pointinellipses"] = (
    "CAST((pow(({0} - {2}) / {4}, 2) + pow(({1} - {3}) / {5}, 2) <= 1) AS TINYINT)"
)
TEMPLATES["toipv4"] = "{0}"  # engine stores IPv4 as its string form
TEMPLATES["ipv4numtostring"] = (
    "concat(CAST((({0}) div 16777216) % 256 AS STRING), '.', "
    "CAST((({0}) div 65536) % 256 AS STRING), '.', "
    "CAST((({0}) div 256) % 256 AS STRING), '.', "
    "CAST(({0}) % 256 AS STRING))"
)
TEMPLATES["ipv4stringtonum"] = (
    "aggregate(transform(split({0}, '\\\\.'), x -> CAST(x AS BIGINT)), "
    "CAST(0 AS BIGINT), (acc, x) -> acc * 256 + x)"
)
TEMPLATES["isipv4string"] = (
    "CAST({0} RLIKE '^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\\\.)"
    "(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\\\."
    "(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\\\."
    "(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$' AS TINYINT)"
)
TEMPLATES["randomstring"] = (
    "substring(repeat(md5(CAST(rand() AS STRING)), "
    "CAST({0} / 32 + 1 AS INT)), 1, CAST({0} AS INT))"
)
TEMPLATES["randomprintableascii"] = (
    "substring(repeat(md5(CAST(rand() AS STRING)), "
    "CAST({0} / 32 + 1 AS INT)), 1, CAST({0} AS INT))"
)
TEMPLATES["randconstant"] = "CAST(floor(rand(42) * 4294967296) AS BIGINT)"
TEMPLATES["randuniform"] = "({0} + rand() * ({1} - {0}))"
TEMPLATES["randnormal"] = "({0} + randn() * {1})"

# array family deep cuts (round-3 eighth sweep)
RENAMES["arraymin"] = "array_min"
RENAMES["arraymax"] = "array_max"
RENAMES["arrayshuffle"] = "shuffle"
RENAMES["arrayunion"] = "array_union"
TEMPLATES["arraycumsum"] = (
    "transform(sequence(1, size({0})), "
    "i -> aggregate(slice({0}, 1, i), CAST(0 AS DOUBLE), (a, x) -> a + x))"
)
TEMPLATES["arraydifference"] = (
    "transform(sequence(1, size({0})), i -> CASE WHEN i = 1 THEN 0 "
    "ELSE element_at({0}, i) - element_at({0}, i - 1) END)"
)
# 1-based occurrence index of each value among its equals so far
TEMPLATES["arrayenumerateuniq"] = (
    "transform(sequence(1, size({0})), "
    "i -> size(filter(slice({0}, 1, i), v -> v <=> element_at({0}, i))))"
)
TEMPLATES["arrayfold"] = "aggregate({1}, {2}, {0})"  # CH arg order: fn, arr, init
TEMPLATES["arrayproduct"] = (
    "aggregate({0}, CAST(1 AS DOUBLE), (a, x) -> a * x)"
)
TEMPLATES["arraylast"] = "element_at(filter({1}, {0}), -1)"
# index computed positionally: array_position would find the FIRST
# occurrence of the last matching VALUE ([1,2,1] with x->x=1 must be
# 3, not 1). The single-element filter(array(element_at(..)), {0})
# applies the caller's one-arg lambda to position i without needing
# lambda composition.
TEMPLATES["arraylastindex"] = (
    "CASE WHEN size({1}) = 0 THEN 0 ELSE "
    "coalesce(array_max(filter(sequence(1, size({1})), "
    "i -> size(filter(array(element_at({1}, i)), {0})) = 1)), 0) END"
)
TEMPLATES["arraypopback"] = "slice({0}, 1, greatest(size({0}) - 1, 0))"
TEMPLATES["arraypopfront"] = (
    "CASE WHEN size({0}) <= 1 THEN array() ELSE slice({0}, 2, size({0}) - 1) END"
)
TEMPLATES["arrayresize"] = (
    "CASE WHEN size({0}) >= {1} THEN slice({0}, 1, {1}) "
    "ELSE concat({0}, array_repeat({2}, CAST({1} - size({0}) AS INT))) END"
)
TEMPLATES["arraywithconstant"] = "array_repeat({1}, CAST({0} AS INT))"
TEMPLATES["arrayavg"] = (
    "(aggregate({0}, CAST(0 AS DOUBLE), (acc, x) -> acc + x) / size({0}))"
)
TEMPLATES["arrayjaccardindex"] = (
    "(size(array_intersect({0}, {1})) * 1.0 / size(array_union({0}, {1})))"
)
TEMPLATES["arrayrotateleft"] = (
    "CASE WHEN size({0}) = 0 THEN {0} ELSE concat("
    "slice({0}, CAST(pmod({1}, size({0})) AS INT) + 1, size({0})), "
    "slice({0}, 1, CAST(pmod({1}, size({0})) AS INT))) END"
)
TEMPLATES["arrayrotateright"] = (
    "CASE WHEN size({0}) = 0 THEN {0} ELSE concat("
    "slice({0}, size({0}) - CAST(pmod({1}, size({0})) AS INT) + 1, size({0})), "
    "slice({0}, 1, size({0}) - CAST(pmod({1}, size({0})) AS INT))) END"
)
TEMPLATES["arraypartialsort"] = (  # CH: first k sorted, rest unspecified —
    "array_sort({1})"              # fully sorted satisfies the contract
)
TEMPLATES["arraysymmetricdifference"] = (
    "array_union(array_except({0}, {1}), array_except({1}, {0}))"
)
TEMPLATES["hasall"] = "(size(array_except({1}, {0})) = 0)"
TEMPLATES["hasany"] = "arrays_overlap({0}, {1})"
# contiguous-subsequence containment. CASE (not OR/AND) so the
# sequence/slice arm is never evaluated when the needle is longer
# than the haystack: sequence(1, 0) yields the DESCENDING [1, 0]
# (auto-step -1) and slice then sees start index 0, which raises.
TEMPLATES["hassubstr"] = (
    "CASE WHEN size({1}) = 0 THEN true "
    "WHEN size({0}) < size({1}) THEN false "
    "ELSE exists(sequence(1, size({0}) - size({1}) + 1), "
    "i -> slice({0}, i, size({1})) = {1}) END"
)
TEMPLATES["indexofassumesorted"] = "coalesce(array_position({0}, {1}), 0)"
TEMPLATES["countmatches"] = "size(regexp_extract_all({0}, {1}, 0))"


# ------------------------------------------------------------------
# Aggregate-combinator algebra (round-4: general suffix rewrite).
#
# ClickHouse combinators are STACKABLE suffixes on any aggregate:
# sumIf, minArray, groupArrayDistinct, sumArrayOrNull, uniqExactIf …
# Rather than enumerating every spelling, parse the suffix chain
# right-to-left down to a known aggregate base and rebuild the
# expression; the emitted base call (e.g. ``any(…)``) is translated
# by the normal tables on the next fixpoint pass of
# translate._rewrite_functions. Explicit table entries always win —
# this only fires for names no table knows.
#
# Supported: -If (filter rows: condition is the last argument),
# -Array (aggregate over array elements), -Distinct, -OrNull (NULL
# instead of the default on an empty set), -OrDefault (the CH type
# default on an empty set). -State/-Merge/-Map/-ForEach/-Resample are
# NOT handled here (no partial-state surface; sumMap has an explicit
# entry).

# bases the combinator expander may bottom out on (CH spellings; the
# emitted call is re-translated by the existing tables)
_COMB_BASES = {
    "sum", "count", "avg", "min", "max", "any", "anylast", "anyheavy",
    "uniq", "uniqexact", "uniqcombined", "uniqhll12", "grouparray",
    "groupuniqarray", "argmin", "argmax", "stddevpop", "stddevsamp",
    "varpop", "varsamp", "corr", "covarpop", "covarsamp", "median",
    "skewpop", "skewsamp", "kurtpop", "kurtsamp", "entropy",
    "avgweighted",
}
# bases that return a count (0, never NULL, on an empty set in Spark)
_COMB_COUNT_BASES = {"count", "uniq", "uniqexact", "uniqcombined", "uniqhll12"}
# bases returning arrays (empty array, never NULL, on an empty set)
_COMB_ARR_BASES = {"grouparray", "groupuniqarray"}
# -Array element-wise forms ({0} = the array argument, already
# If-wrapped when stacked with -If; coalesce() so a filtered-out row
# contributes nothing rather than NULL-poisoning the fold)
_COMB_ARRAY_FORMS = {
    "sum": "sum(aggregate(coalesce({0}, array()), CAST(0 AS DOUBLE), (acc, x) -> acc + x))",
    "count": "sum(coalesce(size({0}), 0))",
    "min": "min(array_min({0}))",
    "max": "max(array_max({0}))",
    "avg": "(sum(aggregate(coalesce({0}, array()), CAST(0 AS DOUBLE), (acc, x) -> acc + x))"
    " / sum(coalesce(size({0}), 0)))",
    "grouparray": "flatten(collect_list({0}))",
    "groupuniqarray": "array_distinct(flatten(collect_list({0})))",
    "uniqexact": "size(array_distinct(flatten(collect_list({0}))))",
}
# --- r4 sweep 9: URL family, simpleJSON aliases, UUID, server misc ----------

# ClickHouse monthName is the FULL name; Spark 4's builtin monthname()
# returns the 3-letter abbreviation, so it must be shadowed.
TEMPLATES["monthname"] = "date_format({0}, 'MMMM')"
TEMPLATES["iszeroornull"] = "({0} IS NULL OR {0} = 0)"
# Euclid fold: 96 steps bounds the worst case (consecutive Fibonacci
# numbers) for 64-bit inputs; each step is a cheap struct swap in
# whole-stage codegen, no data-dependent iteration needed.
_GCD = (
    "aggregate(sequence(1, 96), "
    "named_struct('a', CAST(abs({0}) AS BIGINT), 'b', CAST(abs({1}) AS BIGINT)), "
    "(acc, i) -> IF(acc.b = 0, acc, named_struct('a', acc.b, 'b', acc.a % acc.b)), "
    "acc -> acc.a)"
)
TEMPLATES["gcd"] = _GCD
TEMPLATES["lcm"] = (
    "(CASE WHEN {0} = 0 OR {1} = 0 THEN 0 ELSE abs({0}) div " + _GCD + " * abs({1}) END)"
)
RENAMES["roundbankers"] = "bround"
# CH truncate(x, n): toward zero at n decimals (Spark trunc() is
# date-only, so only the canonical name is mapped)
TEMPLATES["truncate"] = (
    "(sign({0}) * floor(abs({0}) * power(10, {1})) / power(10, {1}))"
)
# CH char(c1, c2, ...) builds a string from code points (Spark char is 1-arg)
TEMPLATES["char"] = "array_join(transform(array({*}), __c -> char(__c)), '')"
# CH timestampAdd/timestampSub take EITHER (datetime, INTERVAL n unit)
# or (unit, n, datetime) — arity-dispatched in translate.py (a template
# can't branch, and the 3-arg spelling is also dateAdd's fixpoint
# output, which must not be re-captured)

# bitwise aggregates
RENAMES["groupbitand"] = "bit_and"
RENAMES["groupbitor"] = "bit_or"
RENAMES["groupbitxor"] = "bit_xor"
TEMPLATES["sumcount"] = "named_struct('sum', sum({0}), 'count', count({0}))"
# deltaSum sums positive deltas in block order; for its canonical use
# (monotonic counters) that equals max-min, which is order-free and
# therefore the only distributed-safe reading. Non-monotonic inputs
# are order-dependent in CH itself (block-order sensitive).
TEMPLATES["deltasum"] = "(max({0}) - min({0}))"

# URL family over Spark's parse_url (HOST/PATH/QUERY/REF/PROTOCOL/
# AUTHORITY/USERINFO are the JVM-side parts CH's parsers expose)
TEMPLATES["extracturlparameters"] = (
    "coalesce(filter(split(parse_url({0}, 'QUERY'), '&'), __x -> __x != ''), array())"
)
TEMPLATES["netloc"] = "parse_url({0}, 'AUTHORITY')"
# CH decodeURLComponent does NOT decode '+' as space; Spark url_decode
# does — shield it. Conversely url_encode emits '+' for space where CH
# emits %20.
TEMPLATES["decodeurlcomponent"] = "url_decode(replace({0}, '+', '%2B'))"
TEMPLATES["encodeurlcomponent"] = "replace(url_encode({0}), '+', '%20')"
# firstSignificantSubdomain: CH resolves against a public-suffix list;
# the portable approximation treats a second-level domain from the
# common shared-registration set as part of the suffix.
_2LD = "('com','net','org','co','gov','edu','mil','ac','biz','info')"
_HOSTPARTS = "split(parse_url({0}, 'HOST'), '\\\\.')"
TEMPLATES["firstsignificantsubdomain"] = (
    f"(CASE WHEN size({_HOSTPARTS}) >= 3 AND "
    f"element_at({_HOSTPARTS}, -2) IN {_2LD} "
    f"THEN element_at({_HOSTPARTS}, -3) "
    f"WHEN size({_HOSTPARTS}) >= 2 THEN element_at({_HOSTPARTS}, -2) "
    f"ELSE element_at({_HOSTPARTS}, -1) END)"
)
TEMPLATES["cuttofirstsignificantsubdomain"] = (
    f"(CASE WHEN size({_HOSTPARTS}) >= 3 AND "
    f"element_at({_HOSTPARTS}, -2) IN {_2LD} "
    f"THEN array_join(slice({_HOSTPARTS}, -3, 3), '.') "
    f"WHEN size({_HOSTPARTS}) >= 2 THEN array_join(slice({_HOSTPARTS}, -2, 2), '.') "
    f"ELSE parse_url({{0}}, 'HOST') END)"
)
_PATHSEGS = "filter(split(parse_url({0}, 'PATH'), '/'), __s -> __s != '')"
TEMPLATES["urlpathhierarchy"] = (
    f"transform(sequence(1, size({_PATHSEGS})), "
    f"__i -> concat('/', array_join(slice({_PATHSEGS}, 1, __i), '/'), "
    f"IF(__i < size({_PATHSEGS}), '/', '')))"
)
TEMPLATES["urlhierarchy"] = (
    f"transform(sequence(0, size({_PATHSEGS})), "
    f"__i -> concat(parse_url({{0}}, 'PROTOCOL'), '://', parse_url({{0}}, 'HOST'), "
    f"IF(__i = 0, '/', concat('/', array_join(slice({_PATHSEGS}, 1, __i), '/'), "
    f"IF(__i < size({_PATHSEGS}), '/', '')))))"
)

# UUIDs are carried as canonical lowercase strings (the CH UUID wire
# type maps to String in our type map, dialect/types.py)
TEMPLATES["touuid"] = "lower({0})"
# NB: templates substitute by literal '{0}'/'{*}' replacement (no
# str.format), so regex quantifier braces below are written plainly
TEMPLATES["touuidornull"] = (
    "(CASE WHEN {0} RLIKE '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$' THEN lower({0}) END)"
)
TEMPLATES["uuidstringtonum"] = "unhex(replace({0}, '-', ''))"
TEMPLATES["uuidnumtostring"] = (
    "lower(concat(substr(hex({0}), 1, 8), '-', substr(hex({0}), 9, 4), '-', "
    "substr(hex({0}), 13, 4), '-', substr(hex({0}), 17, 4), '-', "
    "substr(hex({0}), 21, 12)))"
)

# simpleJSON*/visitParam* are the fast-path spellings of the same
# accessors (key, not JSONPath)
TEMPLATES["simplejsonextractstring"] = TEMPLATES["jsonextractstring"]
TEMPLATES["simplejsonextractint"] = TEMPLATES["jsonextractint"]
TEMPLATES["simplejsonextractfloat"] = TEMPLATES["jsonextractfloat"]
TEMPLATES["simplejsonextractbool"] = TEMPLATES["jsonextractbool"]
TEMPLATES["simplejsonhas"] = TEMPLATES["jsonhas"]
TEMPLATES["visitparamextractint"] = TEMPLATES["jsonextractint"]
TEMPLATES["visitparamextractfloat"] = TEMPLATES["jsonextractfloat"]
TEMPLATES["visitparamextractbool"] = TEMPLATES["jsonextractbool"]
TEMPLATES["jsontype"] = (
    "(CASE WHEN {0} IS NULL OR ltrim({0}) = '' THEN 'Null' "
    "WHEN ltrim({0}) LIKE '{%' THEN 'Object' "
    "WHEN ltrim({0}) LIKE '[%' THEN 'Array' "
    "WHEN ltrim({0}) LIKE '\"%' THEN 'String' "
    "WHEN trim({0}) IN ('true', 'false') THEN 'Bool' "
    "WHEN trim({0}) = 'null' THEN 'Null' "
    "WHEN trim({0}) RLIKE '^-?[0-9]+$' THEN 'Int64' "
    "WHEN trim({0}) RLIKE '^-?[0-9.eE+-]+$' THEN 'Double' "
    "ELSE 'Null' END)"
)

TEMPLATES["formatreadabletimedelta"] = (
    "concat_ws(', ', "
    "IF(CAST({0} AS BIGINT) div 3600 > 0, "
    "concat(CAST(CAST({0} AS BIGINT) div 3600 AS STRING), "
    "IF(CAST({0} AS BIGINT) div 3600 = 1, ' hour', ' hours')), NULL), "
    "IF(CAST({0} AS BIGINT) % 3600 div 60 > 0, "
    "concat(CAST(CAST({0} AS BIGINT) % 3600 div 60 AS STRING), "
    "IF(CAST({0} AS BIGINT) % 3600 div 60 = 1, ' minute', ' minutes')), NULL), "
    "IF(CAST({0} AS BIGINT) % 60 > 0 OR CAST({0} AS BIGINT) = 0, "
    "concat(CAST(CAST({0} AS BIGINT) % 60 AS STRING), "
    "IF(CAST({0} AS BIGINT) % 60 = 1, ' second', ' seconds')), NULL))"
)

# server/debug spellings (no-op semantics preserved, no actual sleeping
# — a distributed engine must not serialize executors on a literal)
TEMPLATES["sleep"] = "(0 * CAST(ceil({0}) AS INT))"
TEMPLATES["sleepeachrow"] = "(0 * CAST(ceil({0}) AS INT))"
TEMPLATES["identity"] = "({0})"
TEMPLATES["materialize"] = "({0})"
TEMPLATES["ignore"] = "IF(isnotnull(struct({*})), 0, 0)"
TEMPLATES["rownumberinallblocks"] = (
    "(row_number() OVER (ORDER BY monotonically_increasing_id()) - 1)"
)
# indexHint reads as TRUE row-wise; the pruning side is Catalyst's job
TEMPLATES["indexhint"] = "(({0}) IS NOT NULL OR TRUE)"
TEMPLATES["countdigits"] = (
    "length(regexp_replace(CAST(abs({0}) AS STRING), '[^0-9]', ''))"
)
# session-aware: the engine substitutes the authenticated user at
# prepare time (engine.py _prepare_sql) — Spark's current_user() is
# the OS user, which is not the CH session identity
TEMPLATES["currentuser"] = "'__MOOSPARK_SESSION_USER__'"
TEMPLATES["user"] = "'__MOOSPARK_SESSION_USER__'"

# --- r4 sweep 10: string distance, bitmask expansion, quantifiers ----------

RENAMES["editdistance"] = "levenshtein"
RENAMES["levenshteindistance"] = "levenshtein"
RENAMES["editdistanceutf8"] = "levenshtein"
# byte-1-gram Jaccard over the two strings' character sets
_CHARSET = "array_distinct(transform(sequence(1, length({0})), __i -> substring({0}, __i, 1)))"
_CHARSET1 = _CHARSET.replace("{0}", "{1}")
TEMPLATES["stringjaccardindex"] = (
    f"(CASE WHEN length({{0}}) = 0 AND length({{1}}) = 0 THEN 0.0 ELSE "
    f"CAST(size(array_intersect({_CHARSET}, {_CHARSET1})) AS DOUBLE) / "
    f"size(array_union({_CHARSET}, {_CHARSET1})) END)"
)
# set-bit expansion: 63 candidate positions, JVM-side filter — the CH
# UInt64 surface maps to BIGINT so bit 63 (sign) is out of domain
_SETBITS = (
    "filter(sequence(0, 62), __i -> "
    "(CAST({0} AS BIGINT) & shiftleft(CAST(1 AS BIGINT), __i)) != 0)"
)
TEMPLATES["bitpositionstoarray"] = _SETBITS
TEMPLATES["bitmasktoarray"] = (
    f"transform({_SETBITS}, __i -> shiftleft(CAST(1 AS BIGINT), __i))"
)
TEMPLATES["bitmasktolist"] = (
    f"array_join(transform({_SETBITS}, "
    f"__i -> CAST(shiftleft(CAST(1 AS BIGINT), __i) AS STRING)), ',')"
)

_COMB_SUFFIXES = ("ornull", "ordefault", "if", "array", "distinct",
                  "simplestate", "state", "merge", "mergestate")


def parse_combinator(lname: str):
    """``sumarrayornull`` → ("sum", ["array", "ornull"]) or None.

    Returns (base, suffixes-in-application-order) only when at least
    one suffix was stripped and the base is a known aggregate.
    """
    rest, stripped = lname, []
    while rest not in _COMB_BASES:
        for suf in _COMB_SUFFIXES:
            if rest.endswith(suf) and len(rest) > len(suf):
                stripped.append(suf)
                rest = rest[: -len(suf)]
                break
        else:
            return None
    if not stripped:
        return None
    return rest, list(reversed(stripped))


def expand_combinator(lname: str, args: list[str]):
    """SQL expression for a combinator spelling, or None if the name
    (or this argument shape) isn't expressible."""
    parsed = parse_combinator(lname)
    if parsed is None:
        return None
    base, sufs = parsed
    args = [a.strip() for a in args if a.strip()]
    # -State / -SimpleState / -Merge: this engine has no opaque binary
    # aggregate states — a state is a plain mergeable VALUE (the
    # partial result for distributive aggregates, (sum, count) for
    # avg, the distinct-set array for uniq*).  finalizeAggregation /
    # xMerge consume these value-states.
    if "simplestate" in sufs:
        rest = [x for x in sufs if x != "simplestate"]
        if rest:
            return expand_combinator(base + "".join(rest), args)
        return f"{base}({', '.join(args)})" if args else None
    if "state" in sufs or "mergestate" in sufs:
        inner_sufs = [x for x in sufs if x not in ("state", "mergestate")]
        if "mergestate" in sufs:
            # merge partial states, keep the state representation:
            # value-states merge with xMerge then re-wrap = identity
            return expand_combinator(base + "merge", args)
        inner = (
            expand_combinator(base + "".join(inner_sufs), args)
            if inner_sufs
            else (f"{base}({', '.join(args)})" if args else None)
        )
        if base in ("avg", "avgweighted"):
            if inner_sufs or len(args) != 1:
                return None
            return (
                f"named_struct('s', sum({args[0]}), 'c', count({args[0]}))"
            )
        if base in ("uniq", "uniqexact", "uniqcombined", "uniqhll12"):
            if inner_sufs or len(args) != 1:
                return None
            return f"collect_set({args[0]})"
        if base == "grouparray":
            return f"collect_list({args[0]})" if len(args) == 1 else None
        if base in (
            "sum", "count", "min", "max", "any", "anylast",
        ):
            return inner
        return None
    if "merge" in sufs:
        if [x for x in sufs if x != "merge"] or len(args) != 1:
            return None
        st = args[0]
        if base in ("sum", "count"):
            return f"sum({st})"
        if base == "min":
            return f"min({st})"
        if base == "max":
            return f"max({st})"
        if base in ("any",):
            return f"any_value({st})"
        if base == "anylast":
            return f"any_value({st})"
        if base in ("avg", "avgweighted"):
            return f"(sum(({st}).s) / sum(({st}).c))"
        if base in ("uniq", "uniqexact", "uniqcombined", "uniqhll12"):
            return f"size(array_distinct(flatten(collect_list({st}))))"
        if base == "grouparray":
            return f"flatten(collect_list({st}))"
        if base == "groupuniqarray":
            return f"array_distinct(flatten(collect_list({st})))"
        return None
    distinct = "distinct" in sufs
    is_array = "array" in sufs
    if distinct and is_array:
        return None  # no meaningful CH spelling stacks these two
    if "if" in sufs:
        if not args:
            return None
        # CH -If conditions are UInt8 (nonzero = true): boolean() is a
        # no-op on booleans and coerces numerics, matching if()/multiIf
        cond = f"boolean({args.pop()})"
        if not args:  # countIf(cond)-style: aggregate a filtered 1
            args = [f"CASE WHEN {cond} THEN 1 END"]
        else:
            args = [f"CASE WHEN {cond} THEN {a} END" for a in args]
    if not args:
        return None
    if is_array:
        form = _COMB_ARRAY_FORMS.get(base)
        if form is None or len(args) != 1:
            return None
        core = form.format(args[0])
    elif distinct:
        core = f"{base}(DISTINCT {', '.join(args)})"
    else:
        core = f"{base}({', '.join(args)})"
    # empty-set behavior: -OrNull = NULL, -OrDefault = the type default
    if "ornull" in sufs:
        if is_array and base in ("grouparray", "groupuniqarray"):
            core = f"CASE WHEN size({core}) = 0 THEN NULL ELSE {core} END"
        elif not is_array and base in _COMB_COUNT_BASES:
            core = f"nullif({core}, 0)"
        elif not is_array and base in _COMB_ARR_BASES:
            core = f"CASE WHEN size({core}) = 0 THEN NULL ELSE {core} END"
        # numeric aggs over an empty/filtered-out set are already NULL
    elif "ordefault" in sufs:
        if base in _COMB_ARR_BASES or (is_array and base in ("grouparray", "groupuniqarray")):
            pass  # collect_list's empty-set value IS the default ([])
        else:
            core = f"coalesce({core}, 0)"
    return core


# --- r4 sweep 11: window-misc, multiset n-grams, multi-search, map HOFs,
# sequence aggregates, t-tests, snowflake IDs, geometry --------------------

# positionCaseInsensitive was wrongly RENAMEd to case-sensitive instr
RENAMES.pop("positioncaseinsensitive", None)
TEMPLATES["positioncaseinsensitive"] = "instr(lower({0}), lower({1}))"
TEMPLATES["positioncaseinsensitiveutf8"] = "instr(lower({0}), lower({1}))"

# dense first-appearance rank per element (reference exposes the CH
# spelling via chDB; Spark reading: rank = position in the distinct-
# preserving prefix, reference main.py:190 delegate surface)
TEMPLATES["arrayenumeratedense"] = (
    "transform({0}, __x -> array_position(array_distinct({0}), __x))"
)

# multi-needle search family: transform to per-needle probes, then
# fold JVM-side — no UDF, stays in whole-stage codegen
TEMPLATES["multisearchfirstindex"] = (
    "array_position(transform({1}, __n -> instr({0}, __n) > 0), true)"
)
TEMPLATES["multisearchfirstposition"] = (
    "coalesce(array_min(filter(transform({1}, __n -> instr({0}, __n)), "
    "__p -> __p > 0)), 0)"
)
TEMPLATES["multisearchallpositions"] = "transform({1}, __n -> instr({0}, __n))"
TEMPLATES["multisearchanycaseinsensitive"] = (
    "exists({1}, __n -> instr(lower({0}), lower(__n)) > 0)"
)
# regexp variants: regexp_like accepts a non-foldable pattern (compiled
# per row — the cost CH pays too for non-constant needles)
TEMPLATES["multimatchany"] = "exists({1}, __p -> regexp_like({0}, __p))"
TEMPLATES["multimatchanyindex"] = (
    "array_position(transform({1}, __p -> regexp_like({0}, __p)), true)"
)

# 4-gram multiset distance/search (CH ngramDistance/ngramSearch family,
# byte-4-gram multisets). Multiset counts via filter-size over the
# gram arrays; strings are short so the O(g^2) distinct-scan is cheap
# and stays inside codegen.
def _grams4(e: str) -> str:
    return (
        f"transform(sequence(1, greatest(char_length({e}) - 3, 1)), "
        f"__i -> substring({e}, __i, 4))"
    )


_G0, _G1 = _grams4("{0}"), _grams4("{1}")
TEMPLATES["ngramdistance"] = (
    f"(aggregate(array_distinct(concat({_G0}, {_G1})), 0, (__acc, __g) -> "
    f"__acc + abs(size(filter({_G0}, __x -> __x = __g)) "
    f"- size(filter({_G1}, __x -> __x = __g)))) "
    f"/ CAST(size({_G0}) + size({_G1}) AS DOUBLE))"
)
TEMPLATES["ngramdistancecaseinsensitive"] = TEMPLATES["ngramdistance"].replace(
    "{0}", "lower({0})"
).replace("{1}", "lower({1})")
TEMPLATES["ngramsearch"] = (
    f"(aggregate(array_distinct({_G1}), 0, (__acc, __g) -> "
    f"__acc + least(size(filter({_G1}, __x -> __x = __g)), "
    f"size(filter({_G0}, __x -> __x = __g)))) "
    f"/ CAST(size({_G1}) AS DOUBLE))"
)
TEMPLATES["ngramsearchcaseinsensitive"] = TEMPLATES["ngramsearch"].replace(
    "{0}", "lower({0})"
).replace("{1}", "lower({1})")

# map HOFs: Spark has native map_filter; apply/update/sort compose
# from entries (CH arg order puts the lambda first)
TEMPLATES["mapfilter"] = "map_filter({1}, {0})"
TEMPLATES["mapupdate"] = (
    "map_concat(map_filter({0}, (__k, __v) -> "
    "NOT array_contains(map_keys({1}), __k)), {1})"
)
TEMPLATES["mapsort"] = "map_from_entries(array_sort(map_entries({0})))"
# mapExists/mapAll: code handlers below (lambda-body substitution)

TEMPLATES["timediff"] = "(unix_timestamp({1}) - unix_timestamp({0}))"

# block-order functions: CH defines these over block arrival order; the
# Spark reading is a global window over the scan order surrogate
# (monotonically_increasing_id is partition-ordered, like CH blocks)
TEMPLATES["runningdifference"] = (
    "({0} - lag({0}, 1, {0}) OVER (ORDER BY monotonically_increasing_id()))"
)

# Twitter snowflake IDs (epoch 1288834974657 ms, ms timestamp << 22)
TEMPLATES["snowflaketodatetime"] = (
    "timestamp_seconds(CAST((({0} >> 22) + 1288834974657) / 1000 AS BIGINT))"
)
TEMPLATES["snowflaketodatetime64"] = (
    "timestamp_millis(({0} >> 22) + 1288834974657)"
)
TEMPLATES["datetimetosnowflake"] = (
    "((unix_timestamp({0}) * 1000 - 1288834974657) << 22)"
)
TEMPLATES["datetime64tosnowflake"] = (
    "((unix_millis({0}) - 1288834974657) << 22)"
)

# CH type-name spelling for the common scalar types (Spark typeof()
# vocabulary otherwise leaks through; literal ints type as Int32 not
# CH's narrowest-fit UInt8 — documented divergence, Spark literal typing)
TEMPLATES["totypename"] = (
    "CASE typeof({0}) "
    "WHEN 'tinyint' THEN 'Int8' WHEN 'smallint' THEN 'Int16' "
    "WHEN 'int' THEN 'Int32' WHEN 'bigint' THEN 'Int64' "
    "WHEN 'float' THEN 'Float32' WHEN 'double' THEN 'Float64' "
    "WHEN 'string' THEN 'String' WHEN 'boolean' THEN 'Bool' "
    "WHEN 'date' THEN 'Date' WHEN 'timestamp' THEN 'DateTime' "
    "WHEN 'timestamp_ntz' THEN 'DateTime' "
    "ELSE typeof({0}) END"
)

# two-sample t-tests as pure aggregate-expression algebra; p-value via
# the normal approximation erfc(|t|/sqrt 2) (erf template above, A&S
# 7.1.26) — exact Student CDF needs the incomplete beta, out of SQL
# reach; for the n where anyone trusts a t-test the normal tail is
# within ~1e-2 of Student and documented as approximate.
def _ttest(welch: bool) -> str:
    n0 = "count(CASE WHEN ({1}) = 0 THEN 1 END)"
    n1 = "count(CASE WHEN ({1}) = 1 THEN 1 END)"
    m0 = "avg(CASE WHEN ({1}) = 0 THEN {0} END)"
    m1 = "avg(CASE WHEN ({1}) = 1 THEN {0} END)"
    v0 = "var_samp(CASE WHEN ({1}) = 0 THEN {0} END)"
    v1 = "var_samp(CASE WHEN ({1}) = 1 THEN {0} END)"
    if welch:
        se2 = f"(({v0}) / ({n0}) + ({v1}) / ({n1}))"
    else:
        sp2 = (
            f"(((({n0}) - 1) * ({v0}) + (({n1}) - 1) * ({v1})) "
            f"/ (({n0}) + ({n1}) - 2))"
        )
        se2 = f"({sp2} * (1.0 / ({n0}) + 1.0 / ({n1})))"
    t = f"((({m0}) - ({m1})) / sqrt({se2}))"
    p = f"(1.0 - erf(abs({t}) / sqrt(2.0)))"
    return f"struct(CAST({t} AS DOUBLE), CAST({p} AS DOUBLE))"


TEMPLATES["studentttest"] = _ttest(welch=False)
TEMPLATES["welchttest"] = _ttest(welch=True)


# --- code-shaped rewrites (argument-inspecting; hooked by translate.py
# right before the _SPECIAL_FNS pass-through). Handler returns the
# replacement expression, or None to pass the call through unchanged.

import re as _re


def _rename_ident(body: str, name: str, repl: str) -> str:
    """Rename identifier token ``name`` → ``repl`` in an expression,
    token-aware: occurrences inside string literals, backquoted or
    double-quoted identifiers, and comments are left untouched (a
    plain ``\\b``-regex sub corrupts ``concat(x, 'x')``)."""
    from .tokenizer import tokenize as _tok

    return "".join(
        repl if (t.kind == "ident" and t.text == name) else t.text
        for t in _tok(body)
    )


def _lit_str(arg: str) -> str | None:
    """Unquote a string literal argument, else None."""
    a = arg.strip()
    if len(a) >= 2 and a[0] in "'\"" and a[-1] == a[0]:
        return a[1:-1]
    return None


def _fn_array_reduce(args: list[str]) -> str | None:
    """arrayReduce('agg', arr) for the scalar-state aggregate names."""
    if len(args) != 2:
        return None
    name = (_lit_str(args[0]) or "").lower()
    a = args[1]
    forms = {
        "sum": f"aggregate({a}, CAST(0 AS DOUBLE), (__acc, __x) -> __acc + __x)",
        "min": f"array_min({a})",
        "max": f"array_max({a})",
        "avg": (
            f"(aggregate({a}, CAST(0 AS DOUBLE), (__acc, __x) -> __acc + __x)"
            f" / size({a}))"
        ),
        "count": f"size({a})",
        "any": f"element_at({a}, 1)",
        "anylast": f"element_at({a}, -1)",
        "uniq": f"size(array_distinct({a}))",
        "uniqexact": f"size(array_distinct({a}))",
        "grouparray": f"({a})",
        "median": (
            f"element_at(array_sort({a}), CAST((size({a}) + 1) / 2 AS INT))"
        ),
    }
    return forms.get(name)


def _count_capture_groups(pat: str) -> int:
    """Capturing groups in a regex literal: '(' not escaped, not '(?'."""
    n = 0
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            i += 2
            continue
        if c == "(" and not pat[i + 1 : i + 2] == "?":
            n += 1
        i += 1
    return n


def _fn_extract_all(args: list[str]) -> str | None:
    """CH extractAll: group 1 if the pattern has a capture group, else
    the whole match (Spark's regexp_extract_all has no such default)."""
    if len(args) != 2:
        return None
    pat = _lit_str(args[1])
    idx = 1 if (pat is not None and _count_capture_groups(pat) > 0) else 0
    return f"regexp_extract_all({args[0]}, {args[1]}, {idx})"


def _fn_untuple(args: list[str]) -> str | None:
    """untuple(tuple(a, b, …)) → a, b, … (select-list expansion).
    Only the literal-tuple shape is statically expandable — arity of a
    general expression is unknown at translate time."""
    if len(args) != 1:
        return None
    a = args[0].strip()
    m = _re.match(r"(?is)^(?:tuple|struct)\s*\((.*)\)$", a)
    if not m:
        return None
    return m.group(1)


def _fn_neighbor(args: list[str]) -> str | None:
    """neighbor(col, offset[, default]) → lead over scan order (CH
    block-order surrogate). Without a default CH fills the type default;
    we fill NULL — the type is unknown at translate time (documented)."""
    if len(args) == 2:
        body = f"lead({args[0]}, {args[1]})"
    elif len(args) == 3:
        body = f"lead({args[0]}, {args[1]}, {args[2]})"
    else:
        return None
    return f"({body} OVER (ORDER BY monotonically_increasing_id()))"


def _fn_map_apply(args: list[str]) -> str | None:
    """mapApply((k, v) -> (k', v'), m): rebuild via entries. The lambda
    body must be a 2-tuple; param names substitute to the entry fields."""
    if len(args) != 2:
        return None
    m = _re.match(r"(?s)^\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*->\s*(.*)$", args[0])
    if not m:
        return None
    kname, vname, body = m.group(1), m.group(2), m.group(3).strip()
    mt = _re.match(r"(?s)^(?:tuple\s*)?\((.*)\)$", body)
    if not mt:
        return None
    parts = split_text(mt.group(1))
    if len(parts) != 2:
        return None
    ke, ve = parts
    for name, repl in ((kname, "__e.key"), (vname, "__e.value")):
        ke = _rename_ident(ke, name, repl)
        ve = _rename_ident(ve, name, repl)
    return (
        f"map_from_entries(transform(map_entries({args[1]}), "
        f"__e -> struct({ke}, {ve})))"
    )


def _fn_array_shift(left: bool):
    def h(args: list[str]) -> str | None:
        if len(args) not in (2, 3):
            return None
        a, n = args[0], f"({args[1]})"
        # CH fills with the element type's default; for the numeric
        # common case that is 0 (typed via a NULL-of-element-type
        # coalesce so int arrays stay int)
        d = (
            args[2]
            if len(args) == 3
            else f"ifnull(element_at(slice({a}, 1, 0), 1), 0)"
        )
        if left:
            body = (
                f"concat(slice({a}, {n} + 1, size({a}) - {n}), "
                f"array_repeat({d}, {n}))"
            )
        else:
            body = (
                f"concat(array_repeat({d}, {n}), "
                f"slice({a}, 1, size({a}) - {n}))"
            )
        return (
            f"CASE WHEN {n} >= size({a}) THEN transform({a}, __x -> {d}) "
            f"ELSE {body} END"
        )

    return h


def _fn_point_in_polygon(args: list[str]) -> str | None:
    """pointInPolygon((x, y), [(x1, y1), …]) → even-odd ray cast, pure
    fold over the vertex array (struct fields col1/col2 from tuple())."""
    if len(args) != 2:
        return None
    pt = args[0].strip()
    if pt.startswith("(") and not _re.match(r"(?i)^(tuple|struct)\s*\(", pt):
        pt = f"struct{pt}"
    # bare tuples inside the vertex array → struct(...) ( '(' not
    # preceded by an identifier char or ')' is a tuple opener )
    poly = _re.sub(r"(?<![\w)])\(", "struct(", args[1])
    v = poly
    def at(idx: str) -> str:
        return f"element_at({v}, {idx})"
    nxt = f"1 + (__i % size({v}))"
    cond = (
        f"(({at('__i')}.col2 > {pt}.col2) != ({at(nxt)}.col2 > {pt}.col2)) "
        f"AND ({pt}.col1 < ({at(nxt)}.col1 - {at('__i')}.col1) "
        f"* ({pt}.col2 - {at('__i')}.col2) "
        f"/ ({at(nxt)}.col2 - {at('__i')}.col2) + {at('__i')}.col1)"
    )
    return (
        f"(aggregate(sequence(1, size({v})), 0, "
        f"(__acc, __i) -> __acc + IF({cond}, 1, 0)) % 2)"
    )


def _fn_values_table(args: list[str]) -> str | None:
    """CH VALUES('a Int32, b String', (1, 'x'), …) table function →
    typed subquery over Spark's FROM VALUES. Plain Spark VALUES rows
    (no schema-literal first arg) pass through untouched."""
    if len(args) < 2:
        return None
    schema = _lit_str(args[0])
    if schema is None or " " not in schema:
        return None
    # disambiguate from INSERT … VALUES ('a b', …): the table-function
    # shape has tuple rows and Capitalized CH type names
    if not all(a.strip().startswith("(") for a in args[1:]):
        return None
    from .types import ch_type_to_spark

    cols = []
    for part in split_text(schema):
        bits = part.strip().split(None, 1)
        if len(bits) != 2 or not bits[1][:1].isupper():
            return None
        cols.append((bits[0].strip("`"), ch_type_to_spark(bits[1]).simpleString()))
    rows = ", ".join(args[1:])
    holders = ", ".join(f"`__c{i}`" for i in range(len(cols)))
    sel = ", ".join(
        f"CAST(`__c{i}` AS {typ}) AS `{name}`" for i, (name, typ) in enumerate(cols)
    )
    return f"(SELECT {sel} FROM VALUES {rows} AS __vals({holders}))"


CODE_FNS: dict[str, "callable"] = {
    "arrayreduce": _fn_array_reduce,
    "extractall": _fn_extract_all,
    "untuple": _fn_untuple,
    "neighbor": _fn_neighbor,
    "mapapply": _fn_map_apply,
    "arrayshiftleft": _fn_array_shift(left=True),
    "arrayshiftright": _fn_array_shift(left=False),
    "pointinpolygon": _fn_point_in_polygon,
    "values": _fn_values_table,
}

# extractAll's old unconditional rename mapped to regexp_extract_all
# group 1, which errors on group-less patterns (and diverges from CH's
# whole-match default) — superseded by the code handler above
RENAMES.pop("extractall", None)


# --- parametric sequence aggregates: sequenceMatch / sequenceCount /
# windowFunnel as pure collect_list + sorted-fold aggregate expressions
# (same algorithm as operators/funnel.py, reachable from SQL). Only the
# ordered-existence pattern family '(?a).*(?b)…' is expressible
# statically; time-constrained patterns ('(?t<=3600)') return None and
# surface CH's own not-supported error shape.

def _parse_seq_pattern(param: str) -> list[int] | None:
    pat = _lit_str(param)
    if pat is None:
        return None
    parts = pat.split(".*")
    idxs: list[int] = []
    for p in parts:
        m = _re.fullmatch(r"\(\?(\d+)\)", p.strip())
        if not m:
            return None
        idxs.append(int(m.group(1)))
    return idxs or None


def _seq_label(conds: list[str], chain: list[int]) -> str:
    # first-match labeling: an event carries the earliest chain slot
    # whose condition it satisfies (CH evaluates all conds per event;
    # for the disjoint conds of real funnels the semantics coincide)
    whens = " ".join(
        f"WHEN ({conds[ci - 1]}) THEN {slot + 1}"
        for slot, ci in enumerate(chain)
    )
    return f"CASE {whens} ELSE 0 END"


def _sorted_events(ts: str, lab: str) -> str:
    # collect_list skips NULLs: non-matching events never enter the fold
    return (
        f"array_sort(collect_list(IF(({lab}) > 0, "
        f"struct(CAST({ts} AS DOUBLE) AS t, {lab} AS lab), NULL)))"
    )


def _pfn_sequence_match(args: list[str], params: list[str]) -> str | None:
    chain = _parse_seq_pattern(params[0]) if params else None
    if chain is None or len(args) < 2 or max(chain) > len(args) - 1:
        return None
    n = len(chain)
    lab = _seq_label(args[1:], chain)
    return (
        f"CAST(aggregate({_sorted_events(args[0], lab)}, 0, "
        f"(__acc, __e) -> IF(__acc < {n} AND __e.lab = __acc + 1, "
        f"__acc + 1, __acc)) = {n} AS INT)"
    )


def _pfn_sequence_count(args: list[str], params: list[str]) -> str | None:
    chain = _parse_seq_pattern(params[0]) if params else None
    if chain is None or len(args) < 2 or max(chain) > len(args) - 1:
        return None
    n = len(chain)
    lab = _seq_label(args[1:], chain)
    return (
        f"aggregate({_sorted_events(args[0], lab)}, "
        f"struct(0 AS cnt, 0 AS lvl), "
        f"(__a, __e) -> IF(__e.lab = __a.lvl + 1, "
        f"IF(__a.lvl + 1 = {n}, named_struct('cnt', __a.cnt + 1, 'lvl', 0), "
        f"named_struct('cnt', __a.cnt, 'lvl', __a.lvl + 1)), __a), "
        f"__a -> __a.cnt)"
    )


def _pfn_window_funnel(args: list[str], params: list[str]) -> str | None:
    """windowFunnel(window)(ts, c1, …): CH's chain-start propagation —
    acc[k] holds the chain-start ts of the best chain reaching level k
    (level 1 keeps the latest start, maximizing window headroom);
    max level = contiguous non-null prefix."""
    if not params or len(args) < 2:
        return None
    if any(_lit_str(p) is not None for p in params):
        return None  # mode params ('strict_order', …) unsupported
    w = params[0]
    n = len(args) - 1
    lab = _seq_label(args[1:], list(range(1, n + 1)))
    prev = "element_at(__acc, __k - 1)"
    step = (
        f"transform(sequence(1, {n}), __k -> "
        f"CASE WHEN __e.lab = __k AND (__k = 1 OR ({prev} IS NOT NULL "
        f"AND __e.t - {prev} <= ({w}))) "
        f"THEN IF(__k = 1, __e.t, {prev}) "
        f"ELSE element_at(__acc, __k) END)"
    )
    return (
        f"aggregate({_sorted_events(args[0], lab)}, "
        f"array_repeat(CAST(NULL AS DOUBLE), {n}), "
        f"(__acc, __e) -> {step}, "
        f"__acc -> size(filter(__acc, __x -> __x IS NOT NULL)))"
    )


PARAMETERIZED["sequencematch"] = _pfn_sequence_match
PARAMETERIZED["sequencecount"] = _pfn_sequence_count
PARAMETERIZED["windowfunnel"] = _pfn_window_funnel


def _fn_geohash_encode(args: list[str]) -> str | None:
    """geohashEncode(lon, lat[, precision=12]) → the registered
    pandas UDF (fixed arity — default filled here)."""
    if len(args) == 2:
        return f"chGeohashEncode({args[0]}, {args[1]}, 12)"
    if len(args) == 3:
        return f"chGeohashEncode({args[0]}, {args[1]}, {args[2]})"
    return None


CODE_FNS["geohashencode"] = _fn_geohash_encode


def _subst_2param_lambda(lam: str) -> str | None:
    """Rewrite a CH two-param lambda '(k, v) -> body' into an entry-based
    body over ``__e.key``/``__e.value``; None if the shape differs."""
    m = _re.match(r"(?s)^\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*->\s*(.*)$", lam)
    if not m:
        return None
    kname, vname, body = m.group(1), m.group(2), m.group(3).strip()
    body = _rename_ident(body, kname, "__e.key")
    body = _rename_ident(body, vname, "__e.value")
    return body


def _fn_map_pred(hof: str):
    def h(args: list[str]) -> str | None:
        if len(args) != 2:
            return None
        body = _subst_2param_lambda(args[0])
        if body is None:
            return None
        return f"{hof}(map_entries({args[1]}), __e -> ({body}))"

    return h


def _truthy_lambda(lam: str) -> str:
    """``x -> body`` → ``x -> boolean(body)``: CH HOF predicates are
    UInt8 lambdas (``arrayFilter(x -> x % 2, …)``); boolean() is a
    no-op for boolean bodies and CH truthiness for numeric ones.
    Non-lambda or multi-param shapes pass through unchanged."""
    m = _re.match(r"(?s)^\s*(\(?\s*\w+\s*\)?)\s*->\s*(.*)$", lam)
    if not m or "," in m.group(1):
        return lam
    return f"{m.group(1)} -> boolean({m.group(2).strip()})"


def _fn_array_pred(form: str):
    def h(args: list[str]) -> str | None:
        if len(args) != 2:
            return None
        return form.format(args[1], _truthy_lambda(args[0]))

    return h


def _fn_array_sort(reverse: bool):
    """CH arraySort[Desc]([f,] arr): the optional first arg is a KEY
    lambda (Spark's array_sort comparator form differs) — substitute
    the key body into a three-way comparator; bare form sorts by
    value."""

    def h(args: list[str]) -> str | None:
        if len(args) == 1:
            core = f"array_sort({args[0]})"
            return f"reverse({core})" if reverse else core
        if len(args) != 2:
            return None
        m = _re.match(r"(?s)^\s*\(?\s*(\w+)\s*\)?\s*->\s*(.*)$", args[0])
        if m is None or "," in m.group(1):
            return None
        p, body = m.group(1), m.group(2).strip()
        kl = _rename_ident(body, p, "__sl")
        kr = _rename_ident(body, p, "__sr")
        lo, hi = ("1", "-1") if reverse else ("-1", "1")
        return (
            f"array_sort({args[1]}, (__sl, __sr) -> CASE "
            f"WHEN ({kl}) < ({kr}) THEN {lo} "
            f"WHEN ({kl}) > ({kr}) THEN {hi} ELSE 0 END)"
        )

    return h


CODE_FNS["arraysort"] = _fn_array_sort(False)
CODE_FNS["arrayreversesort"] = _fn_array_sort(True)


CODE_FNS["arrayfilter"] = _fn_array_pred("filter({0}, {1})")
CODE_FNS["arrayexists"] = _fn_array_pred("exists({0}, {1})")
CODE_FNS["arrayall"] = _fn_array_pred("forall({0}, {1})")
CODE_FNS["arrayfirst"] = _fn_array_pred("element_at(filter({0}, {1}), 1)")
CODE_FNS["arraycount"] = _fn_array_pred("size(filter({0}, {1}))")


def _fn_to_datetime(args: list[str]) -> str | None:
    if len(args) == 1:
        return f"timestamp({args[0]})"
    if len(args) == 2:
        # CH 2-arg semantics depend on the input kind: a STRING (or
        # Date) is parsed as wall time IN the given zone — session is
        # pinned UTC, so to_utc_timestamp reproduces the instant — but
        # a numeric epoch or DateTime keeps its instant unchanged (the
        # tz only affects display): toDateTime(0,'Asia/Tokyo') is
        # still epoch 0, not -32400.
        a, tz = args[0], args[1]
        wall = f"to_utc_timestamp(CAST({a} AS TIMESTAMP), {tz})"
        instant = f"CAST({a} AS TIMESTAMP)"
        if _lit_str(a) is not None:
            return wall
        if _re.fullmatch(r"[+-]?\d+(\.\d+)?", a.strip()):
            return instant
        # Unknown static type: branch on the runtime column type.
        cond = (
            f"typeof({a}) IN ('string', 'date') OR typeof({a}) LIKE 'varchar%'"
        )
        return f"CASE WHEN {cond} THEN {wall} ELSE {instant} END"
    return None


CODE_FNS["todatetime"] = _fn_to_datetime


def _fn_cast_2arg(args: list[str]) -> str | None:
    """CH function-style ``CAST(x, 'Type')`` with a string type arg;
    the ``CAST(x AS T)`` form arrives as one argument and passes
    through untouched (handled by the cast-type token pass)."""
    if len(args) != 2:
        return None
    t = args[1].strip()
    if len(t) < 2 or t[0] not in "'\"" or t[-1] != t[0]:
        return None
    from .types import ch_type_to_spark

    try:
        spark_t = ch_type_to_spark(t[1:-1]).simpleString()
    except Exception:  # noqa: BLE001 — unknown type: leave original
        return None
    if spark_t.startswith(("array", "map", "struct")):
        # Spark can't cast a string to a composite; CH parses the
        # literal — from_json does the same (parameter binding policy)
        return f"from_json({args[0]}, '{spark_t}')"
    return f"CAST({args[0]} AS {spark_t})"


CODE_FNS["cast"] = _fn_cast_2arg


# Host-extraction regexes compiled to string ops (ClickBench Q28
# family). Java regex on every row is the single largest entry at
# 100M rows; the equivalent LIKE/instr/substr chain stays in
# whole-stage codegen with no per-row Pattern machinery. Recognized
# pattern (both single- and double-backslash literal spellings):
#   ^https?://(?:www\.)?([^/]+)/.*$   with replacement $1 or \1
_HOST_EXTRACT_PATTERNS = {
    r"^https?://(?:www\.)?([^/]+)/.*$",
    r"^https?://(?:www\\.)?([^/]+)/.*$",
}


def _fn_regexp_replace(args: list[str]) -> str | None:
    if len(args) != 3:
        return None
    pat = _lit_str(args[1])
    rep = _lit_str(args[2])
    if pat not in _HOST_EXTRACT_PATTERNS or rep not in ("$1", "\\1", "\\\\1"):
        return None
    e = f"({args[0].strip()})"

    def tier(plen: int) -> str:
        """Host slice after a scheme prefix of plen chars, handling
        the optional www. strip exactly like the regex backtracks:
        strip only when a non-empty host remains before the next '/'
        (so 'http://www./x' yields 'www.', not the original)."""
        base = plen + 1  # substr is 1-based
        www = base + 4
        return (
            f"CASE WHEN {e} LIKE '{'http' if plen == 7 else 'https'}://www.%' "
            f"AND instr(substr({e}, {www}), '/') > 1 "
            f"THEN substr(substr({e}, {www}), 1, instr(substr({e}, {www}), '/') - 1) "
            f"WHEN instr(substr({e}, {base}), '/') > 1 "
            f"THEN substr(substr({e}, {base}), 1, instr(substr({e}, {base}), '/') - 1) "
            f"ELSE {e} END"
        )

    # Rows containing a line terminator keep the real regex (Java's $
    # matches before a FINAL newline, which the string ops can't see);
    # the \x00 guard keeps the fixpoint rewriter off the fallback call.
    # The replacement is normalized to '$1': the CH '\\1' spelling
    # accepted above would be a literal '1' to Java, making the two
    # tiers of this CASE disagree on newline rows.
    fallback = f"\x00regexp_replace\x00({args[0]}, {args[1]}, '$1')"
    return (
        # Java's $ also matches before a final U+0085 (NEL), U+2028 (LS)
        # or U+2029 (PS), so those rows must take the real regex too.
        f"CASE WHEN {e} LIKE concat('%', chr(10), '%') "
        f"OR {e} LIKE concat('%', chr(13), '%') "
        f"OR {e} LIKE concat('%', chr(133), '%') "
        # Spark chr() is mod-256: LS/PS (U+2028/U+2029) must be
        # embedded as literal characters in the pattern
        f"OR {e} LIKE '%\u2028%' "
        f"OR {e} LIKE '%\u2029%' THEN {fallback} "
        f"WHEN {e} LIKE 'http://%' THEN {tier(7)} "
        f"WHEN {e} LIKE 'https://%' THEN {tier(8)} "
        f"ELSE {e} END"
    )


CODE_FNS["regexp_replace"] = _fn_regexp_replace


def _fn_agg_map_two_array(name: str):
    """CH sumMap/minMap/maxMap(keys, values) 2-array form → the map
    form via map_from_arrays (the 1-arg map form keeps its template;
    returning None here would bypass it, so apply it directly).
    Keys duplicated WITHIN one row's array error (map_from_arrays);
    merging across rows — the operation's purpose — works."""

    def h(args: list[str]) -> str | None:
        tpl = TEMPLATES[name]
        if len(args) == 2:
            return tpl.replace("{0}", f"map_from_arrays({args[0]}, {args[1]})")
        if len(args) == 1:
            return tpl.replace("{0}", args[0])
        return None

    return h


for _n in ("summap", "minmap", "maxmap"):
    CODE_FNS[_n] = _fn_agg_map_two_array(_n)


def _fn_truncate(args: list[str]) -> str | None:
    """CH truncate/trunc(x[, N]): toward-zero numeric truncation to N
    decimals (Float64). Spark's date-oriented trunc(d, 'fmt') — a
    quoted second argument — passes through untouched."""
    if len(args) == 1:
        return f"CAST(CAST({args[0]} AS BIGINT) AS DOUBLE)"
    if len(args) == 2 and not args[1].strip().startswith(("'", '"')):
        p = f"pow(10, {args[1]})"
        return f"(CAST(CAST(({args[0]}) * {p} AS BIGINT) AS DOUBLE) / {p})"
    return None


CODE_FNS["truncate"] = _fn_truncate
CODE_FNS["trunc"] = _fn_truncate

# lgamma/tgamma: full-real-domain gamma needs libm — pandas UDFs
# registered in functions/misc_udfs.py (no JVM expression form)
RENAMES["lgamma"] = "chLgamma"
RENAMES["tgamma"] = "chTgamma"

CODE_FNS["mapexists"] = _fn_map_pred("exists")
CODE_FNS["mapall"] = _fn_map_pred("forall")


# ---------------------------------------------------------------- sweep 12
# Vector distance family (CH's array-as-vector functions; the same
# expressions the similarity operators use, exposed as SQL spellings).
_DOT = (
    "aggregate(zip_with({0}, {1}, (x, y) -> CAST(x AS DOUBLE) * y), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
TEMPLATES["arraydotproduct"] = _DOT
TEMPLATES["dotproduct"] = _DOT
TEMPLATES["l2squareddistance"] = (
    "aggregate(zip_with({0}, {1}, (x, y) -> (CAST(x AS DOUBLE) - y) * "
    "(CAST(x AS DOUBLE) - y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
TEMPLATES["l2distance"] = (
    "sqrt(aggregate(zip_with({0}, {1}, (x, y) -> (CAST(x AS DOUBLE) - y) * "
    "(CAST(x AS DOUBLE) - y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
)
TEMPLATES["l1distance"] = (
    "aggregate(zip_with({0}, {1}, (x, y) -> abs(CAST(x AS DOUBLE) - y)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
TEMPLATES["linfdistance"] = (
    "array_max(zip_with({0}, {1}, (x, y) -> abs(CAST(x AS DOUBLE) - y)))"
)
TEMPLATES["l2norm"] = (
    "sqrt(aggregate({0}, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x))"
)
TEMPLATES["l1norm"] = "aggregate({0}, CAST(0 AS DOUBLE), (acc, x) -> acc + abs(x))"
TEMPLATES["linfnorm"] = "array_max(transform({0}, x -> abs(CAST(x AS DOUBLE))))"
TEMPLATES["cosinedistance"] = (
    "(1.0 - (" + _DOT + ") / "
    "(sqrt(aggregate({0}, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)) * "
    "sqrt(aggregate({1}, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x))))"
)
TEMPLATES["l2normalize"] = (
    "transform({0}, x -> CAST(x AS DOUBLE) / "
    "sqrt(aggregate({0}, CAST(0 AS DOUBLE), (acc, y) -> acc + y * y)))"
)

# Bitmap family: CH models these as roaring-bitmap aggregate states;
# the value-level algebra (build/and/or/xor/cardinality/contains) maps
# exactly onto sorted distinct arrays, which is how they're expressed
# here. Array-backed, so they compose with every array function.
TEMPLATES["bitmapbuild"] = "array_sort(array_distinct({0}))"
TEMPLATES["bitmaptoarray"] = "array_sort(array_distinct({0}))"
TEMPLATES["bitmapcardinality"] = "size(array_distinct({0}))"
TEMPLATES["bitmapmin"] = "array_min({0})"
TEMPLATES["bitmapmax"] = "array_max({0})"
TEMPLATES["bitmapcontains"] = "array_contains({0}, {1})"
TEMPLATES["bitmapand"] = "array_sort(array_intersect({0}, {1}))"
TEMPLATES["bitmapor"] = "array_sort(array_union({0}, {1}))"
TEMPLATES["bitmapxor"] = (
    "array_sort(array_union(array_except({0}, {1}), array_except({1}, {0})))"
)
TEMPLATES["bitmapandnot"] = "array_sort(array_except({0}, {1}))"
TEMPLATES["bitmapandcardinality"] = "size(array_intersect({0}, {1}))"
TEMPLATES["bitmaporcardinality"] = "size(array_union({0}, {1}))"
TEMPLATES["bitmapxorcardinality"] = (
    "size(array_union(array_except({0}, {1}), array_except({1}, {0})))"
)
TEMPLATES["bitmapandnotcardinality"] = "size(array_except({0}, {1}))"
TEMPLATES["bitmaphasall"] = "forall({1}, x -> array_contains({0}, x))"
TEMPLATES["bitmaphasany"] = "arrays_overlap({0}, {1})"
TEMPLATES["groupbitmap"] = "count(DISTINCT {0})"

# DateTime64 epoch constructors (inverse of toUnixTimestamp64*)
TEMPLATES["fromunixtimestamp64milli"] = "timestamp_millis(CAST({0} AS BIGINT))"
TEMPLATES["fromunixtimestamp64micro"] = "timestamp_micros(CAST({0} AS BIGINT))"
TEMPLATES["fromunixtimestamp64nano"] = (
    "timestamp_micros(CAST(({0}) DIV 1000 AS BIGINT))"
)

# byteSwap: width follows the value's magnitude the way CH's literal
# typing does (UInt8 -> identity, UInt16/32/64 -> 2/4/8-byte swap).
TEMPLATES["byteswap"] = (
    "CASE WHEN ({0}) BETWEEN 0 AND 255 THEN ({0}) "
    "WHEN ({0}) BETWEEN 0 AND 65535 THEN "
    "(shiftleft(({0}) & 255, 8) | (shiftrightunsigned({0}, 8) & 255)) "
    "WHEN ({0}) BETWEEN 0 AND 4294967295 THEN "
    "(shiftleft(({0}) & 255, 24) | shiftleft(shiftrightunsigned({0}, 8) & 255, 16) | "
    "shiftleft(shiftrightunsigned({0}, 16) & 255, 8) | (shiftrightunsigned({0}, 24) & 255)) "
    "ELSE (shiftleft(({0}) & 255, 56) | shiftleft(shiftrightunsigned({0}, 8) & 255, 48) | "
    "shiftleft(shiftrightunsigned({0}, 16) & 255, 40) | "
    "shiftleft(shiftrightunsigned({0}, 24) & 255, 32) | "
    "shiftleft(shiftrightunsigned({0}, 32) & 255, 24) | "
    "shiftleft(shiftrightunsigned({0}, 40) & 255, 16) | "
    "shiftleft(shiftrightunsigned({0}, 48) & 255, 8) | "
    "(shiftrightunsigned({0}, 56) & 255)) END"
)

# parseReadableSize('1 KiB') -> 1024 (binary and decimal units)
_RSIZE_MULT = (
    "CASE lower(regexp_extract({0}, '([A-Za-z]+)\\\\s*$', 1)) "
    "WHEN 'b' THEN 1.0 WHEN 'kb' THEN 1e3 WHEN 'mb' THEN 1e6 "
    "WHEN 'gb' THEN 1e9 WHEN 'tb' THEN 1e12 WHEN 'pb' THEN 1e15 "
    "WHEN 'eb' THEN 1e18 WHEN 'kib' THEN 1024.0 WHEN 'mib' THEN 1048576.0 "
    "WHEN 'gib' THEN 1073741824.0 WHEN 'tib' THEN 1099511627776.0 "
    "WHEN 'pib' THEN 1125899906842624.0 ELSE NULL END"
)
TEMPLATES["parsereadablesize"] = (
    "CAST(round(CAST(regexp_extract({0}, '^\\\\s*([0-9.]+)', 1) AS DOUBLE) * "
    + _RSIZE_MULT + ") AS BIGINT)"
)
TEMPLATES["parsereadablesizeorzero"] = (
    "COALESCE(CAST(round(CAST(regexp_extract({0}, '^\\\\s*([0-9.]+)', 1) AS DOUBLE) * "
    + _RSIZE_MULT + ") AS BIGINT), 0)"
)
TEMPLATES["parsereadablesizeornull"] = (
    "CAST(round(CAST(regexp_extract({0}, '^\\\\s*([0-9.]+)', 1) AS DOUBLE) * "
    + _RSIZE_MULT + ") AS BIGINT)"
)

# byteSize: storage width by runtime type; String = length + 9 (CH's
# varint-prefixed layout)
TEMPLATES["bytesize"] = (
    "CASE typeof({0}) WHEN 'tinyint' THEN 1 WHEN 'smallint' THEN 2 "
    "WHEN 'int' THEN 4 WHEN 'bigint' THEN 8 WHEN 'float' THEN 4 "
    "WHEN 'double' THEN 8 WHEN 'boolean' THEN 1 WHEN 'date' THEN 2 "
    "WHEN 'timestamp' THEN 4 "
    "ELSE octet_length(CAST({0} AS STRING)) + 9 END"
)


# ---------------------------------------------------------------- sweep 13
# Parameterized aggregate breadth. Where CH's variant is approximate
# (quantileTiming/BFloat16, topKWeighted) the exact computation is a
# valid instance of the contract, like topk above.
PARAMETERIZED["quantilebfloat16"] = "percentile_approx({0}, {p0})"
PARAMETERIZED["quantiletiming"] = "percentile_approx({0}, {p0})"
PARAMETERIZED["quantileddsketch"] = "percentile_approx({0}, {p0})"
PARAMETERIZED["quantilestiming"] = "percentile_approx({0}, array({p*}))"
PARAMETERIZED["quantilestdigest"] = "percentile_approx({0}, array({p*}))"
PARAMETERIZED["quantilesbfloat16"] = "percentile_approx({0}, array({p*}))"
# uniqUpTo(N): exact count while <= N, else N+1
PARAMETERIZED["uniqupto"] = "least(count(DISTINCT {0}), CAST({p0} AS BIGINT) + 1)"
# groupConcat(sep)(x) — CH's groupConcat / STRING_AGG shape
PARAMETERIZED["groupconcat"] = "array_join(collect_list(CAST({0} AS STRING)), {p0})"
TEMPLATES["groupconcat"] = "array_join(collect_list(CAST({0} AS STRING)), '')"
# moving aggregates over insertion order (CH semantics; stable given a
# sorted/one-partition input, like CH's own block order)
PARAMETERIZED["grouparraymovingsum"] = (
    "transform(sequence(1, size(collect_list({0}))), i -> "
    "aggregate(slice(collect_list({0}), greatest(i - ({p0}) + 1, 1), "
    "i - greatest(i - ({p0}) + 1, 1) + 1), CAST(0 AS DOUBLE), (a, x) -> a + x))"
)
PARAMETERIZED["grouparraymovingavg"] = (
    # CH divides by the window size (not the elements summed); ints
    # divide integrally in CH — we emit the double value
    "transform(sequence(1, size(collect_list({0}))), i -> "
    "aggregate(slice(collect_list({0}), greatest(i - ({p0}) + 1, 1), "
    "i - greatest(i - ({p0}) + 1, 1) + 1), CAST(0 AS DOUBLE), (a, x) -> a + x) "
    "/ ({p0}))"
)
# topKWeighted(k)(x, w): values ranked by total weight
PARAMETERIZED["topkweighted"] = (
    "transform(slice(array_sort(transform(array_distinct(collect_list({0})), "
    "d -> struct(aggregate(filter(collect_list(struct({0} AS v, {1} AS w)), "
    "p -> p.v <=> d), CAST(0 AS DOUBLE), (a, p) -> a + p.w) AS c, d AS v)), "
    "(a, b) -> CASE WHEN a.c > b.c THEN -1 WHEN a.c < b.c THEN 1 "
    "WHEN a.v < b.v THEN -1 WHEN a.v > b.v THEN 1 ELSE 0 END), "
    "1, {p0}), s -> s.v)"
)

# Interval aggregates: fold the collected endpoints once, JVM-side.
# maxIntersections: sweep-line over +1/-1 events (end sorts before a
# coincident start -> half-open [s, e) like CH).
TEMPLATES["maxintersections"] = (
    "aggregate(array_sort(concat("
    "transform(collect_list({0}), s -> struct(CAST(s AS DOUBLE) AS t, 1 AS d)), "
    "transform(collect_list({1}), e -> struct(CAST(e AS DOUBLE) AS t, -1 AS d)))), "
    "struct(0 AS cur, 0 AS mx), "
    "(acc, ev) -> struct(acc.cur + ev.d, greatest(acc.mx, acc.cur + ev.d))).mx"
)
# intervalLengthSum: union length of [s, e) intervals — sort by start,
# extend a covered-through cursor
TEMPLATES["intervallengthsum"] = (
    "CAST(aggregate(array_sort(collect_list(struct(CAST({0} AS DOUBLE) AS s, "
    "CAST({1} AS DOUBLE) AS e))), "
    "struct(CAST(-1e308 AS DOUBLE) AS ce, CAST(0 AS DOUBLE) AS tot), "
    "(acc, iv) -> struct(greatest(acc.ce, iv.e), "
    "acc.tot + greatest(CAST(0 AS DOUBLE), iv.e - greatest(iv.s, acc.ce)))).tot "
    "AS BIGINT)"
)
TEMPLATES["singlevalueornull"] = (
    "CASE WHEN count(DISTINCT {0}) = 1 THEN max({0}) END"
)


# Categorical association aggregates (cramersV / contingency /
# theilsU) and Spearman rankCorr: computed exactly from one collected
# pair list per group — the contingency table is folded JVM-side with
# array HOFs (O(|distinct| * n) per group, the group-local cost CH
# pays too). Composed from shared pieces for readability.
_PAIRS = "collect_list(struct({0} AS a, {1} AS b))"
_N = f"CAST(size({_PAIRS}) AS DOUBLE)"
# chi-squared over the FULL distinct-a x distinct-b grid (zero-
# observation cells carry (0-exp)^2/exp, so iterating only observed
# pairs understates chi2)
_GRID = (
    f"flatten(transform(array_distinct(transform({_PAIRS}, p -> p.a)), av -> "
    f"transform(array_distinct(transform({_PAIRS}, p -> p.b)), bv -> "
    f"struct(av AS a, bv AS b))))"
)
_CHI2 = (
    f"aggregate(transform({_GRID}, d -> "
    f"(CAST(size(filter({_PAIRS}, p -> p.a <=> d.a AND p.b <=> d.b)) AS DOUBLE) - "
    f"CAST(size(filter({_PAIRS}, p -> p.a <=> d.a)) AS DOUBLE) * "
    f"size(filter({_PAIRS}, p -> p.b <=> d.b)) / {_N}) * "
    f"(CAST(size(filter({_PAIRS}, p -> p.a <=> d.a AND p.b <=> d.b)) AS DOUBLE) - "
    f"CAST(size(filter({_PAIRS}, p -> p.a <=> d.a)) AS DOUBLE) * "
    f"size(filter({_PAIRS}, p -> p.b <=> d.b)) / {_N}) / "
    f"(CAST(size(filter({_PAIRS}, p -> p.a <=> d.a)) AS DOUBLE) * "
    f"size(filter({_PAIRS}, p -> p.b <=> d.b)) / {_N})), "
    f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
)
_KA = f"size(array_distinct(transform({_PAIRS}, p -> p.a)))"
_KB = f"size(array_distinct(transform({_PAIRS}, p -> p.b)))"
TEMPLATES["cramersv"] = (
    f"sqrt(({_CHI2}) / ({_N} * greatest(least({_KA}, {_KB}) - 1, 1)))"
)
TEMPLATES["contingency"] = f"sqrt(({_CHI2}) / (({_CHI2}) + {_N}))"


def _entropy_over(expr_list: str, pairs: str = _PAIRS, n: str = _N) -> str:
    """-sum p*ln(p) over the distinct values of a transformed list."""
    return (
        f"aggregate(transform(array_distinct({expr_list}), v -> "
        f"-(CAST(size(filter({expr_list}, u -> u <=> v)) AS DOUBLE) / {n}) * "
        f"ln(CAST(size(filter({expr_list}, u -> u <=> v)) AS DOUBLE) / {n})), "
        f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )


_H_A = _entropy_over(f"transform({_PAIRS}, p -> p.a)")
_H_B = _entropy_over(f"transform({_PAIRS}, p -> p.b)")
_H_AB = _entropy_over(_PAIRS)
# Theil's U (uncertainty coefficient) U(a|b) = (H(a)+H(b)-H(a,b))/H(a)
TEMPLATES["theilsu"] = f"(({_H_A}) + ({_H_B}) - ({_H_AB})) / ({_H_A})"

# Spearman rank correlation: Pearson corr of fractional (midrank)
# ranks, computed positionally from the collected value lists
_RANKS_A = (
    f"transform({_PAIRS}, q -> "
    f"CAST(size(filter({_PAIRS}, p -> p.a < q.a)) AS DOUBLE) + "
    f"(CAST(size(filter({_PAIRS}, p -> p.a <=> q.a)) AS DOUBLE) + 1) / 2)"
)
_RANKS_B = (
    f"transform({_PAIRS}, q -> "
    f"CAST(size(filter({_PAIRS}, p -> p.b < q.b)) AS DOUBLE) + "
    f"(CAST(size(filter({_PAIRS}, p -> p.b <=> q.b)) AS DOUBLE) + 1) / 2)"
)


def _arr_mean(a: str) -> str:
    return f"(aggregate({a}, CAST(0 AS DOUBLE), (s, x) -> s + x) / size({a}))"


TEMPLATES["rankcorr"] = (
    f"aggregate(zip_with({_RANKS_A}, {_RANKS_B}, (x, y) -> "
    f"(x - {_arr_mean(_RANKS_A)}) * (y - {_arr_mean(_RANKS_B)})), "
    f"CAST(0 AS DOUBLE), (s, v) -> s + v) / "
    f"(sqrt(aggregate(transform({_RANKS_A}, x -> (x - {_arr_mean(_RANKS_A)}) * "
    f"(x - {_arr_mean(_RANKS_A)})), CAST(0 AS DOUBLE), (s, v) -> s + v)) * "
    f"sqrt(aggregate(transform({_RANKS_B}, y -> (y - {_arr_mean(_RANKS_B)}) * "
    f"(y - {_arr_mean(_RANKS_B)})), CAST(0 AS DOUBLE), (s, v) -> s + v)))"
)


# ---------------------------------------------------------------- sweep 14
RENAMES["min2"] = "least"
RENAMES["max2"] = "greatest"
TEMPLATES["intexp2"] = "CAST(shiftleft(CAST(1 AS BIGINT), CAST({0} AS INT)) AS BIGINT)"
TEMPLATES["intexp10"] = "CAST(round(pow(10, {0})) AS BIGINT)"
TEMPLATES["yyyymmddtodate"] = "to_date(CAST(CAST({0} AS BIGINT) AS STRING), 'yyyyMMdd')"
TEMPLATES["yyyymmddhhmmsstodatetime"] = (
    "to_timestamp(CAST(CAST({0} AS BIGINT) AS STRING), 'yyyyMMddHHmmss')"
)
TEMPLATES["addinterval"] = "({0} + {1})"
TEMPLATES["sumkahan"] = "sum(CAST({0} AS DOUBLE))"  # compensated sum's contract
TEMPLATES["medianexact"] = "percentile({0}, 0.5)"
PARAMETERIZED["quantilebfloat16weighted"] = "percentile_approx({0}, {p0})"
# quantileGK(accuracy, level)(x): percentile_approx's accuracy knob IS
# the Greenwald-Khanna accuracy parameter
PARAMETERIZED["quantilegk"] = "percentile_approx({0}, {p1}, CAST({p0} AS INT))"
# exact weighted quantile: Spark's percentile accepts a frequency arg
PARAMETERIZED["quantileexactweighted"] = "percentile({0}, {p0}, CAST({1} AS BIGINT))"
PARAMETERIZED["medianexactweighted"] = "percentile({0}, 0.5, CAST({1} AS BIGINT))"
# decimal arithmetic with explicit result scale (3rd arg, default 10)
CODE_FNS["dividedecimal"] = lambda args: (
    f"CAST(CAST({args[0]} AS DOUBLE) / ({args[1]}) AS "
    f"DECIMAL(38, {args[2] if len(args) > 2 else 10}))"
    if len(args) in (2, 3)
    else None
)
CODE_FNS["multiplydecimal"] = lambda args: (
    f"CAST(CAST({args[0]} AS DOUBLE) * ({args[1]}) AS "
    f"DECIMAL(38, {args[2] if len(args) > 2 else 10}))"
    if len(args) in (2, 3)
    else None
)


def _fn_array_resize(args: list[str]) -> str | None:
    if len(args) not in (2, 3):
        return None
    a, n = args[0], f"({args[1]})"
    # CH pads with the element default (0 for numerics) unless given
    d = (
        args[2]
        if len(args) == 3
        else f"ifnull(element_at(slice({a}, 1, 0), 1), 0)"
    )
    return (
        f"CASE WHEN {n} <= size({a}) THEN slice({a}, 1, greatest({n}, 0)) "
        f"ELSE concat({a}, array_repeat({d}, {n} - size({a}))) END"
    )


CODE_FNS["arrayresize"] = _fn_array_resize

RENAMES["uniqcombined64"] = "approx_count_distinct"
RENAMES["positionutf8"] = "instr"


# ---------------------------------------------------------------- sweep 15
# to<T>OrNull / to<T>OrZero conversion family: Spark try_cast with CH
# range checks (unsigned widths have no Spark type — parse into the
# next wider signed type and bound-check).
_CONV_INTS = {
    "int8": ("TINYINT", -128, 127),
    "int16": ("SMALLINT", -32768, 32767),
    "int32": ("INT", -2147483648, 2147483647),
    "int64": ("BIGINT", None, None),
    "uint8": ("SMALLINT", 0, 255),
    "uint16": ("INT", 0, 65535),
    "uint32": ("BIGINT", 0, 4294967295),
    "uint64": ("BIGINT", 0, None),
}
for _n, (_st, _lo, _hi) in _CONV_INTS.items():
    if _lo is None:
        _ornull = "try_cast({0} AS BIGINT)"
    elif _hi is None:
        _ornull = (
            f"CASE WHEN try_cast({{0}} AS BIGINT) >= {_lo} "
            f"THEN try_cast({{0}} AS BIGINT) END"
        )
    else:
        _ornull = (
            f"CASE WHEN try_cast({{0}} AS BIGINT) BETWEEN {_lo} AND {_hi} "
            f"THEN CAST(try_cast({{0}} AS BIGINT) AS {_st}) END"
        )
    TEMPLATES[f"to{_n}ornull"] = _ornull
    TEMPLATES[f"to{_n}orzero"] = f"COALESCE({_ornull}, 0)"
    # OrDefault: CH falls back to the 2nd arg when conversion fails
    TEMPLATES[f"to{_n}ordefault"] = (
        "COALESCE(" + _ornull.replace("{0}", "{0}") + ", {1})"
    )
for _n, _st in (("float32", "FLOAT"), ("float64", "DOUBLE")):
    TEMPLATES[f"to{_n}ornull"] = f"try_cast({{0}} AS {_st})"
    TEMPLATES[f"to{_n}orzero"] = f"COALESCE(try_cast({{0}} AS {_st}), 0.0)"
    TEMPLATES[f"to{_n}ordefault"] = f"COALESCE(try_cast({{0}} AS {_st}), {{1}})"
TEMPLATES["todateordefault"] = "COALESCE(try_cast({0} AS DATE), {1})"
TEMPLATES["todatetimeordefault"] = "COALESCE(try_cast({0} AS TIMESTAMP), {1})"
TEMPLATES["todateornull"] = "try_cast({0} AS DATE)"
TEMPLATES["todateorzero"] = "COALESCE(try_cast({0} AS DATE), DATE '1970-01-01')"
TEMPLATES["todate32ornull"] = "try_cast({0} AS DATE)"
TEMPLATES["todatetimeornull"] = "try_cast({0} AS TIMESTAMP)"
TEMPLATES["todatetimeorzero"] = (
    "COALESCE(try_cast({0} AS TIMESTAMP), TIMESTAMP '1970-01-01 00:00:00')"
)
TEMPLATES["todatetime64ornull"] = "try_cast({0} AS TIMESTAMP)"
for _p, _prec in (("32", 9), ("64", 18), ("128", 38)):
    CODE_FNS[f"todecimal{_p}ornull"] = (
        lambda args, prec=_prec: (
            f"try_cast({args[0]} AS DECIMAL({prec}, {args[1]}))"
            if len(args) == 2
            else None
        )
    )


def _accurate_cast(or_null: bool):
    def h(args: list[str]) -> str | None:
        if len(args) != 2:
            return None
        t = args[1].strip()
        if not (t.startswith("'") and t.endswith("'")):
            return None
        ch_t = t[1:-1].lower()
        if ch_t in _CONV_INTS and or_null:
            st, lo, hi = _CONV_INTS[ch_t]
            if lo is not None and hi is not None:
                return (
                    f"CASE WHEN try_cast({args[0]} AS BIGINT) BETWEEN {lo} AND {hi} "
                    f"THEN CAST(try_cast({args[0]} AS BIGINT) AS {st}) END"
                )
        from .types import ch_type_to_spark

        try:
            st = ch_type_to_spark(t[1:-1]).simpleString()
        except Exception:
            return None
        return (
            f"try_cast({args[0]} AS {st})" if or_null else f"CAST({args[0]} AS {st})"
        )

    return h


CODE_FNS["accuratecast"] = _accurate_cast(or_null=False)
CODE_FNS["accuratecastornull"] = _accurate_cast(or_null=True)

# reinterpret: little-endian byte views of small integers / strings
TEMPLATES["reinterpretasuint8"] = "ascii(substring({0}, 1, 1))"
TEMPLATES["reinterpretasuint16"] = (
    "(ascii(substring({0}, 1, 1)) | shiftleft(ascii(substring({0}, 2, 1)), 8))"
)
TEMPLATES["reinterpretasuint32"] = (
    "(ascii(substring({0}, 1, 1)) | shiftleft(ascii(substring({0}, 2, 1)), 8) | "
    "shiftleft(ascii(substring({0}, 3, 1)), 16) | "
    "shiftleft(ascii(substring({0}, 4, 1)), 24))"
)
# int -> its little-endian bytes as text (trailing NULs dropped)
TEMPLATES["reinterpretasstring"] = (
    "array_join(transform(filter(sequence(0, 7), i -> "
    "(shiftrightunsigned(CAST({0} AS BIGINT), i * 8) & 255) != 0 OR "
    "shiftrightunsigned(CAST({0} AS BIGINT), i * 8) != 0), "
    "i -> char(shiftrightunsigned(CAST({0} AS BIGINT), i * 8) & 255)), '')"
)
RENAMES["lastdayofmonth"] = "last_day"
# central angle between two lon/lat points, in degrees
TEMPLATES["greatcircleangle"] = (
    "degrees(2 * asin(sqrt(pow(sin(radians(({3}) - ({1})) / 2), 2) + "
    "cos(radians({1})) * cos(radians({3})) * "
    "pow(sin(radians(({2}) - ({0})) / 2), 2))))"
)


# ---------------------------------------------------------------- sweep 16
RENAMES["widthbucket"] = "width_bucket"
RENAMES["width_bucket"] = "width_bucket"
TEMPLATES["arrayshingles"] = (
    "transform(sequence(1, greatest(size({0}) - ({1}) + 1, 1)), "
    "i -> slice({0}, i, {1}))"
)
TEMPLATES["arrayrandomsample"] = "slice(shuffle({0}), 1, {1})"

# z-crit lookup for the common confidence levels (no closed-form
# probit in Spark SQL; unlisted levels fall back to 1.96)
def _zcrit(conf: str) -> str:
    return (
        f"CASE CAST({conf} AS DECIMAL(4,3)) WHEN 0.90 THEN 1.6449 "
        f"WHEN 0.95 THEN 1.9600 WHEN 0.99 THEN 2.5758 "
        f"WHEN 0.999 THEN 3.2905 ELSE 1.9600 END"
    )


def _fn_proportions_ztest(args: list[str]) -> str | None:
    """proportionsZTest(s1, s2, t1, t2, conf, 'pooled'|'unpooled') →
    (z, p, ci_low, ci_high) for the difference p1 - p2."""
    if len(args) not in (4, 5, 6):
        return None
    s1, s2, t1, t2 = args[:4]
    conf = args[4] if len(args) > 4 else "0.95"
    pooled = "unpooled" not in (args[5].lower() if len(args) > 5 else "'pooled'")
    p1 = f"(CAST({s1} AS DOUBLE) / ({t1}))"
    p2 = f"(CAST({s2} AS DOUBLE) / ({t2}))"
    if pooled:
        pp = f"((CAST({s1} AS DOUBLE) + ({s2})) / (({t1}) + ({t2})))"
        se = f"sqrt({pp} * (1 - {pp}) * (1.0 / ({t1}) + 1.0 / ({t2})))"
    else:
        se = f"sqrt({p1} * (1 - {p1}) / ({t1}) + {p2} * (1 - {p2}) / ({t2}))"
    se_u = f"sqrt({p1} * (1 - {p1}) / ({t1}) + {p2} * (1 - {p2}) / ({t2}))"
    z = f"(({p1} - {p2}) / {se})"
    p = f"(1.0 - erf(abs({z}) / sqrt(2.0)))"
    zc = _zcrit(conf)
    return (
        f"struct(CAST({z} AS DOUBLE) AS z_statistic, "
        f"CAST({p} AS DOUBLE) AS p_value, "
        f"CAST(({p1} - {p2}) - {zc} * {se_u} AS DOUBLE) AS ci_low, "
        f"CAST(({p1} - {p2}) + {zc} * {se_u} AS DOUBLE) AS ci_high)"
    )


CODE_FNS["proportionsztest"] = _fn_proportions_ztest

# meanZTest(var_x, var_y, conf)(x, g): two-sample z-test with known
# population variances (CH signature)
_MZ_N0 = "count(CASE WHEN ({1}) = 0 THEN 1 END)"
_MZ_N1 = "count(CASE WHEN ({1}) = 1 THEN 1 END)"
_MZ_M0 = "avg(CASE WHEN ({1}) = 0 THEN {0} END)"
_MZ_M1 = "avg(CASE WHEN ({1}) = 1 THEN {0} END)"
_MZ_SE = f"sqrt(({{p0}}) / ({_MZ_N0}) + ({{p1}}) / ({_MZ_N1}))"
_MZ_Z = f"((({_MZ_M0}) - ({_MZ_M1})) / {_MZ_SE})"
PARAMETERIZED["meanztest"] = (
    f"struct(CAST({_MZ_Z} AS DOUBLE) AS z_statistic, "
    f"CAST(1.0 - erf(abs({_MZ_Z}) / sqrt(2.0)) AS DOUBLE) AS p_value, "
    f"CAST((({_MZ_M0}) - ({_MZ_M1})) - "
    + _zcrit("{p2}")
    + f" * {_MZ_SE} AS DOUBLE) AS ci_low, "
    f"CAST((({_MZ_M0}) - ({_MZ_M1})) + "
    + _zcrit("{p2}")
    + f" * {_MZ_SE} AS DOUBLE) AS ci_high)"
)

# mannWhitneyUTest(v, g): exact midrank U statistic, normal-approx p
_MW_PAIRS = "collect_list(struct({0} AS v, {1} AS g))"
_MW_RANKS = (
    f"transform({_MW_PAIRS}, q -> struct("
    f"CAST(size(filter({_MW_PAIRS}, p -> p.v < q.v)) AS DOUBLE) + "
    f"(CAST(size(filter({_MW_PAIRS}, p -> p.v <=> q.v)) AS DOUBLE) + 1) / 2 AS r, "
    f"q.g AS g))"
)
_MW_N0 = f"CAST(size(filter({_MW_PAIRS}, p -> p.g = 0)) AS DOUBLE)"
_MW_N1 = f"CAST(size(filter({_MW_PAIRS}, p -> p.g != 0)) AS DOUBLE)"
_MW_R0 = (
    f"aggregate(filter({_MW_RANKS}, s -> s.g = 0), CAST(0 AS DOUBLE), "
    f"(acc, s) -> acc + s.r)"
)
_MW_U = f"(({_MW_R0}) - ({_MW_N0}) * (({_MW_N0}) + 1) / 2)"
_MW_Z = (
    f"((({_MW_U}) - ({_MW_N0}) * ({_MW_N1}) / 2) / "
    f"sqrt(({_MW_N0}) * ({_MW_N1}) * (({_MW_N0}) + ({_MW_N1}) + 1) / 12))"
)
TEMPLATES["mannwhitneyutest"] = (
    f"struct(CAST({_MW_U} AS DOUBLE) AS u_statistic, "
    f"CAST(1.0 - erf(abs({_MW_Z}) / sqrt(2.0)) AS DOUBLE) AS p_value)"
)


# kolmogorovSmirnovTest(v, g): exact D over the pooled sample,
# asymptotic p via the Kolmogorov distribution (4 series terms)
_KS_PAIRS = "collect_list(struct({0} AS v, {1} AS g))"
_KS_N0 = f"CAST(size(filter({_KS_PAIRS}, p -> p.g = 0)) AS DOUBLE)"
_KS_N1 = f"CAST(size(filter({_KS_PAIRS}, p -> p.g != 0)) AS DOUBLE)"
_KS_D = (
    f"array_max(transform({_KS_PAIRS}, q -> abs("
    f"CAST(size(filter({_KS_PAIRS}, p -> p.g = 0 AND p.v <= q.v)) AS DOUBLE) / ({_KS_N0}) - "
    f"CAST(size(filter({_KS_PAIRS}, p -> p.g != 0 AND p.v <= q.v)) AS DOUBLE) / ({_KS_N1}))))"
)
_KS_NE = f"(({_KS_N0}) * ({_KS_N1}) / (({_KS_N0}) + ({_KS_N1})))"
_KS_LAM = f"((sqrt({_KS_NE}) + 0.12 + 0.11 / sqrt({_KS_NE})) * ({_KS_D}))"
_KS_P = (
    f"least(1.0, greatest(0.0, 2 * ("
    f"exp(-2 * pow({_KS_LAM}, 2)) - exp(-8 * pow({_KS_LAM}, 2)) + "
    f"exp(-18 * pow({_KS_LAM}, 2)) - exp(-32 * pow({_KS_LAM}, 2)))))"
)
TEMPLATES["kolmogorovsmirnovtest"] = (
    f"struct(CAST({_KS_D} AS DOUBLE) AS d_statistic, "
    f"CAST({_KS_P} AS DOUBLE) AS p_value)"
)

# bias-corrected Cramer's V (Bergsma 2013): phi2' = max(0, phi2 -
# (r-1)(c-1)/(n-1)), dims shrunk by the same correction
_CV_PHI2 = f"(({_CHI2}) / {_N})"
_CV_R = f"CAST({_KA} AS DOUBLE)"
_CV_C = f"CAST({_KB} AS DOUBLE)"
_CV_PHI2C = (
    f"greatest(CAST(0 AS DOUBLE), {_CV_PHI2} - "
    f"(({_CV_R}) - 1) * (({_CV_C}) - 1) / ({_N} - 1))"
)
_CV_RC = f"(({_CV_R}) - pow(({_CV_R}) - 1, 2) / ({_N} - 1))"
_CV_CC = f"(({_CV_C}) - pow(({_CV_C}) - 1, 2) / ({_N} - 1))"
TEMPLATES["cramersvbiascorrected"] = (
    f"sqrt(({_CV_PHI2C}) / greatest(least({_CV_RC}, {_CV_CC}) - 1, 1e-12))"
)


# ---------------------------------------------------------------- sweep 17
# JSONExtractRaw was a bare get_json_object rename — CH passes keys,
# not JSONPaths, so it always missed. Same key->path convention as
# the other JSONExtract* entries.
TEMPLATES["jsonextractraw"] = "get_json_object({0}, concat('$.', {1}))"
TEMPLATES["jsonextractvalues"] = (
    "map_values(from_json({0}, 'map<string,string>'))"
)
TEMPLATES["jsonextractarrayraw"] = (
    "from_json(get_json_object({0}, concat('$.', {1})), 'array<string>')"
)


def _fn_json_keys_and_values(args: list[str]) -> str | None:
    """JSONExtractKeysAndValues(json, 'T') -> array of (key, T) pairs."""
    if len(args) != 2:
        return None
    t = _lit_str(args[1])
    if t is None:
        return None
    from .types import ch_type_to_spark

    try:
        st = ch_type_to_spark(t).simpleString()
    except Exception:
        return None
    return (
        f"transform(map_entries(from_json({args[0]}, 'map<string,string>')), "
        f"e -> struct(e.key AS key, CAST(e.value AS {st}) AS value))"
    )


CODE_FNS["jsonextractkeysandvalues"] = _fn_json_keys_and_values
TEMPLATES["tojsonstring"] = "to_json({0})"
# OrNull variants: element_at on an empty filter is already NULL
TEMPLATES["arrayfirstornull"] = "element_at(filter({1}, {0}), 1)"
TEMPLATES["arraylastornull"] = "element_at(filter({1}, {0}), -1)"
RENAMES["mapconcat"] = "map_concat"
RENAMES["tocolumntypename"] = None  # resolved below via totypename
TEMPLATES["tocolumntypename"] = TEMPLATES["totypename"]
del RENAMES["tocolumntypename"]
TEMPLATES["mappopulateseries"] = (
    "map_from_arrays("
    "sequence(array_min(map_keys({0})), array_max(map_keys({0}))), "
    "transform(sequence(array_min(map_keys({0})), array_max(map_keys({0}))), "
    "k -> coalesce(element_at({0}, k), 0)))"
)
TEMPLATES["mapcontainskeylike"] = "exists(map_keys({0}), k -> k LIKE {1})"
TEMPLATES["mapextractkeylike"] = (
    "map_from_entries(filter(map_entries({0}), e -> e.key LIKE {1}))"
)
TEMPLATES["countsubstringscaseinsensitive"] = (
    "CAST(CASE WHEN length({1}) = 0 THEN 0 ELSE "
    "(length({0}) - length(replace(lower({0}), lower({1}), ''))) / length({1}) END AS BIGINT)"
)

# ---------------------------------------------------------------------------
# Sweep 18: date_diff/timestamp_diff snake spellings, change* date-part
# setters, decimal readable size, L2 normalize, IPv6 validation, CIDR
# ranges, URL form-encoding variants, parameter-name extraction.
# (CH spellings per reference main.py's chDB delegation surface.)

# CH accepts date_diff/timestamp_diff with a *quoted* unit; Spark's own
# date_diff wants a bare keyword, so route the 3-arg quoted form through
# the same timestampdiff rewrite dateDiff already uses.  Spark-native
# 2-arg date_diff(end, start) passes through on the arity guard.
TEMPLATES["date_diff"] = TEMPLATES["datediff"]
TEMPLATES["timestamp_diff"] = TEMPLATES["datediff"]

# changeYear/...: replace one datetime component, keeping the rest.
# Interval arithmetic (rather than make_date) so out-of-range targets
# saturate the way CH documents (Feb 29 -> Feb 28) instead of NULLing.
TEMPLATES["changeyear"] = "({0} + make_interval({1} - year({0})))"
TEMPLATES["changemonth"] = "({0} + make_interval(0, {1} - month({0})))"
TEMPLATES["changeday"] = "({0} + make_interval(0, 0, 0, {1} - day({0})))"
TEMPLATES["changehour"] = "({0} + make_interval(0, 0, 0, 0, {1} - hour({0})))"
TEMPLATES["changeminute"] = "({0} + make_interval(0, 0, 0, 0, 0, {1} - minute({0})))"
TEMPLATES["changesecond"] = (
    "({0} + make_interval(0, 0, 0, 0, 0, 0, {1} - second({0})))"
)

TEMPLATES["formatreadabledecimalsize"] = (
    "CASE WHEN {0} < 1000 THEN concat(regexp_replace(format_number(CAST({0} AS DOUBLE), 2), ',', ''), ' B') "
    "WHEN {0} < 1000000 THEN concat(regexp_replace(format_number({0} / 1000.0, 2), ',', ''), ' KB') "
    "WHEN {0} < 1000000000 THEN concat(regexp_replace(format_number({0} / 1000000.0, 2), ',', ''), ' MB') "
    "ELSE concat(regexp_replace(format_number({0} / 1000000000.0, 2), ',', ''), ' GB') END"
)

# L2-normalize a vector; zero vectors divide to NULL elements (CH emits
# nan there — both are "no direction", neither round-trips further math)
TEMPLATES["normalizel2"] = (
    "transform({0}, __x -> __x / "
    "sqrt(aggregate({0}, CAST(0 AS DOUBLE), (__a, __v) -> __a + __v * __v)))"
)

# IPv6 validation: full-form groups or a single '::' compression; the
# regex rejects multiple '::' (an empty group can't match between two
# colons) but does not count groups or accept the embedded-IPv4 form.
# Quantifiers are spelled with '?'/'*' only — '{n,m}' would collide
# with the template placeholder syntax (replace-based, see
# translate._apply_template).
_H4 = "[0-9A-Fa-f][0-9A-Fa-f]?[0-9A-Fa-f]?[0-9A-Fa-f]?"
TEMPLATES["isipv6string"] = (
    "CAST({0} RLIKE '^("
    + "(" + _H4 + ":)(" + _H4 + ":)(" + _H4 + ":)(" + _H4 + ":)"
    + "(" + _H4 + ":)(" + _H4 + ":)(" + _H4 + ":)" + _H4
    + "|((" + _H4 + ":)*" + _H4 + ")?::((" + _H4 + ":)*" + _H4 + ")?"
    + ")$' AS TINYINT)"
)

# IPv4CIDRToRange(addr, prefix) -> tuple(lower, upper); addresses are
# the engine's string IPv4 representation (see toipv4 above)
_IP4N = (
    "aggregate(transform(split({0}, '\\\\.'), __x -> CAST(__x AS BIGINT)), "
    "CAST(0 AS BIGINT), (__a, __x) -> __a * 256 + __x)"
)
_CIDR_STEP = "CAST(pow(2, 32 - ({1})) AS BIGINT)"
_CIDR_LOW = f"(({_IP4N}) div ({_CIDR_STEP}) * ({_CIDR_STEP}))"
_CIDR_HIGH = f"({_CIDR_LOW} + {_CIDR_STEP} - 1)"


def _ip4_render(num_expr: str) -> str:
    return (
        f"concat(CAST((({num_expr}) div 16777216) % 256 AS STRING), '.', "
        f"CAST((({num_expr}) div 65536) % 256 AS STRING), '.', "
        f"CAST((({num_expr}) div 256) % 256 AS STRING), '.', "
        f"CAST(({num_expr}) % 256 AS STRING))"
    )


TEMPLATES["ipv4cidrtorange"] = (
    f"struct({_ip4_render(_CIDR_LOW)}, {_ip4_render(_CIDR_HIGH)})"
)

# URL form-component coding: the '+'-for-space convention IS what
# Spark's url_encode/url_decode implement, so these are direct
TEMPLATES["encodeurlformcomponent"] = "url_encode({0})"
TEMPLATES["decodeurlformcomponent"] = "url_decode({0})"
TEMPLATES["extracturlparameternames"] = (
    "transform("
    "coalesce(filter(split(parse_url({0}, 'QUERY'), '&'), __p -> __p != ''), array()), "
    "__p -> substring_index(__p, '=', 1))"
)

# ---------------------------------------------------------------------------
# Sweep 19: numerically-"Stable" aggregate spellings, array ROC-AUC,
# deterministic quantiles, CH block introspection, CASE-with-expression
# function spelling, misc server constants.

# CH's *Stable variants trade speed for deterministic summation order;
# Spark's aggregates are already order-insensitive compensated doubles,
# so the plain spellings are the faithful mapping.
RENAMES["corrstable"] = "corr"
RENAMES["covarpopstable"] = "covar_pop"
RENAMES["covarsampstable"] = "covar_samp"
RENAMES["stddevpopstable"] = "stddev_pop"
RENAMES["stddevsampstable"] = "stddev_samp"
RENAMES["varpopstable"] = "var_pop"
RENAMES["varsampstable"] = "var_samp"

# quantileDeterministic(level)(x, determinator): the determinator only
# controls CH's reservoir sampling tie-breaks; our exact percentile has
# no sampling, so it is ignored (strictly more deterministic).
PARAMETERIZED["quantiledeterministic"] = "percentile({0}, {p0})"
PARAMETERIZED["quantilesdeterministic"] = "percentile({0}, array({p*}))"

# arrayAUC(scores, labels): Mann-Whitney pairwise form — mean over
# (positive, negative) pairs of [score_p > score_n] with 0.5 for ties.
# O(n^2) per row is fine for array-typed columns (bounded per record);
# empty classes -> NULL (CH: nan — neither is orderable downstream).
_AUC_PAIRS = "zip_with({0}, {1}, (__s, __l) -> struct(__s AS s, __l AS l))"
TEMPLATES["arrayauc"] = (
    f"(aggregate({_AUC_PAIRS}, CAST(0 AS DOUBLE), (__a, __p) -> __a + "
    f"CASE WHEN __p.l > 0 THEN aggregate({_AUC_PAIRS}, CAST(0 AS DOUBLE), "
    "(__b, __q) -> __b + CASE WHEN __q.l <= 0 THEN "
    "(CASE WHEN __p.s > __q.s THEN 1.0D WHEN __p.s = __q.s THEN 0.5D ELSE 0.0D END) "
    "ELSE 0.0D END) ELSE 0.0D END) / "
    "nullif(aggregate({1}, CAST(0 AS DOUBLE), (__a, __l) -> __a + IF(__l > 0, 1.0D, 0.0D)) "
    "* aggregate({1}, CAST(0 AS DOUBLE), (__a, __l) -> __a + IF(__l <= 0, 1.0D, 0.0D)), 0.0D))"
)
TEMPLATES["arrayrocauc"] = TEMPLATES["arrayauc"]

# Block introspection: one result set = one block in this engine (the
# formats layer renders a single materialized frame), so the block
# number is constant 0 and the in-block row number is the global one.
TEMPLATES["blocknumber"] = "0"
TEMPLATES["rownumberinblock"] = TEMPLATES["rownumberinallblocks"]
# monotone session clock: seconds since the JVM epoch-start of the query
TEMPLATES["uptime"] = "CAST(unix_timestamp() % 86400 AS BIGINT)"
TEMPLATES["serveruuid"] = "'00000000-0000-0000-0000-000000000000'"


def _fn_case_with_expression(args: list[str]) -> str | None:
    """caseWithExpression(x, w1, r1, ..., [else]) → CASE x WHEN … END."""
    if len(args) < 3:
        return None
    parts = [f"CASE {args[0]}"]
    i = 1
    while i + 1 < len(args):
        parts.append(f"WHEN {args[i]} THEN {args[i + 1]}")
        i += 2
    if i < len(args):
        parts.append(f"ELSE {args[i]}")
    parts.append("END")
    return " ".join(parts)


CODE_FNS["casewithexpression"] = _fn_case_with_expression
CODE_FNS["casewithexpr"] = _fn_case_with_expression

# runningAccumulate(aggState(x)): CH folds an aggregate state over
# block order.  The Spark reading is the matching aggregate over an
# unbounded-preceding window in scan order; a bare (non-State) column
# argument accumulates as a sum, CH's canonical use.
_RUNNING_WIN = (
    "OVER (ORDER BY monotonically_increasing_id() "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)
_STATE_AGGS = {
    "sum": "sum", "count": "count", "min": "min", "max": "max",
    "avg": "avg", "uniq": "count(DISTINCT {a})", "uniqexact": "count(DISTINCT {a})",
    "grouparray": "collect_list",
}


def _fn_running_accumulate(args: list[str]) -> str | None:
    if not args:
        return None
    import re as _re

    m = _re.match(r"^\s*(\w+)State\s*\((.*)\)\s*$", args[0], _re.IGNORECASE | _re.DOTALL)
    if m:
        base, inner = m.group(1).lower(), m.group(2)
        spark = _STATE_AGGS.get(base)
        if spark is None:
            return None
        call = spark.format(a=inner) if "{a}" in spark else f"{spark}({inner})"
        return f"({call} {_RUNNING_WIN})"
    return f"(sum({args[0]}) {_RUNNING_WIN})"


CODE_FNS["runningaccumulate"] = _fn_running_accumulate

# nonNegativeDerivative(metric, ts[, INTERVAL]): per-second rate vs the
# previous row in scan order, clamped at 0; first row = 0 (greatest()
# skips the NULL lag on both engines' readings)
TEMPLATES["nonnegativederivative"] = (
    "greatest(CAST(({0} - lag({0}, 1) OVER (ORDER BY monotonically_increasing_id())) "
    "/ nullif(unix_timestamp({1}) - unix_timestamp(lag({1}, 1) "
    "OVER (ORDER BY monotonically_increasing_id())), 0) AS DOUBLE), CAST(0 AS DOUBLE))"
)

# ---------------------------------------------------------------------------
# Sweep 20: regexp extraction breadth, UTF8 spellings, partial reverse
# sort, case-insensitive match counting.

TEMPLATES["arraypartialreversesort"] = (  # same contract note as arraypartialsort
    "reverse(array_sort({1}))"
)
TEMPLATES["countmatchescaseinsensitive"] = (
    "size(regexp_extract_all({0}, concat('(?i)', {1}), 0))"
)
RENAMES["translateutf8"] = "translate"
RENAMES["reverseutf8"] = "reverse"


def _fn_regexp_extract(args: list[str]) -> str | None:
    """regexpExtract(haystack, pattern[, index]) — CH default index 1."""
    if len(args) == 2:
        return f"regexp_extract({args[0]}, {args[1]}, 1)"
    if len(args) == 3:
        return f"regexp_extract({args[0]}, {args[1]}, {args[2]})"
    return None


CODE_FNS["regexpextract"] = _fn_regexp_extract


def _groups_of_literal(pattern_arg: str) -> int | None:
    """Capture-group count of a *quoted literal* regex argument
    (None when the pattern isn't a literal — the translation then
    passes through untouched)."""
    body = _lit_str(pattern_arg)
    if body is None:
        return None
    return _count_capture_groups(body)


def _fn_extract_groups_horizontal(args: list[str]) -> str | None:
    """extractAllGroupsHorizontal(s, re) → [[all g1], [all g2], …].
    Needs a literal pattern (group count drives the projection)."""
    if len(args) != 2:
        return None
    n = _groups_of_literal(args[1])
    if not n:
        return None
    cols = ", ".join(
        f"regexp_extract_all({args[0]}, {args[1]}, {g})" for g in range(1, n + 1)
    )
    return f"array({cols})"


def _fn_extract_groups_vertical(args: list[str]) -> str | None:
    """extractAllGroupsVertical(s, re) → [[g1, g2, …] per match]."""
    if len(args) != 2:
        return None
    n = _groups_of_literal(args[1])
    if not n:
        return None
    # zip the per-group streams back into per-match rows
    fields = ", ".join(f"__z.`{g - 1}`" for g in range(1, n + 1))
    zipped = ", ".join(
        f"regexp_extract_all({args[0]}, {args[1]}, {g})" for g in range(1, n + 1)
    )
    return f"transform(arrays_zip({zipped}), __z -> array({fields}))"


CODE_FNS["extractallgroupshorizontal"] = _fn_extract_groups_horizontal
CODE_FNS["extractallgroupsvertical"] = _fn_extract_groups_vertical


def _fn_extract_groups_first(args: list[str]) -> str | None:
    """extractGroups(s, re) → [g1, g2, …] of the FIRST match."""
    if len(args) != 2:
        return None
    n = _groups_of_literal(args[1])
    if not n:
        return None
    cols = ", ".join(
        f"regexp_extract({args[0]}, {args[1]}, {g})" for g in range(1, n + 1)
    )
    return f"array({cols})"


CODE_FNS["extractgroups"] = _fn_extract_groups_first

# ---------------------------------------------------------------------------
# Sweep 21: sub-second truncation, timezone introspection, Joda-syntax
# formatting, array edit distance, interval subtraction, misc fills.

# CH emptyArrayToSingle returns [type-default] for an empty input; the
# portable Spark reading yields [NULL] (element_at on empty) — the one
# divergence is the filler value, the shape contract holds.
TEMPLATES["emptyarraytosingle"] = (
    "IF(size({0}) = 0, array(element_at({0}, 1)), {0})"
)
TEMPLATES["replicate"] = "transform({1}, __r -> {0})"
TEMPLATES["subtractinterval"] = "({0} - {1})"
# timestamps are microsecond-precision: micro/nano truncation is identity
TEMPLATES["tostartofmicrosecond"] = "{0}"
TEMPLATES["tostartofnanosecond"] = "{0}"
TEMPLATES["tostartofmillisecond"] = (
    "timestamp_micros(CAST(unix_micros({0}) div 1000 * 1000 AS BIGINT))"
)
TEMPLATES["timezoneof"] = "current_timezone()"
TEMPLATES["timezoneoffset"] = (
    "CAST(unix_timestamp(from_utc_timestamp({0}, current_timezone())) "
    "- unix_timestamp({0}) AS BIGINT)"
)
# Spark's datetime patterns ARE the Joda/java.time family
TEMPLATES["fromunixtimestampinjodasyntax"] = "from_unixtime({0}, {1})"
TEMPLATES["formatdatetimeinjodasyntax"] = "date_format({0}, {1})"
TEMPLATES["validatenestedarraysizes"] = (
    "(size({0}) = size({1}))"
)

# arrayLevenshteinDistance: classic one-row DP as a fold — outer
# aggregate over {1} updates the row, inner aggregate over positions of
# {0} builds each new row left-to-right.  Null-safe compares (<=>).
# Empty-{0} guard: sequence(1, 0) would yield the DESCENDING [1, 0].
TEMPLATES["arraylevenshteindistance"] = (
    "CASE WHEN size({0}) = 0 THEN size({1}) ELSE "
    "aggregate({1}, sequence(0, size({0})), "
    "(__row, __b) -> aggregate(sequence(1, size({0})), "
    "array(element_at(__row, 1) + 1), "
    "(__nr, __i) -> concat(__nr, array(least("
    "element_at(__nr, -1) + 1, "
    "element_at(__row, __i + 1) + 1, "
    "element_at(__row, __i) + IF(element_at({0}, __i) <=> __b, 0, 1)))) ), "
    "__row -> element_at(__row, -1)) END"
)

# ---------------------------------------------------------------------------
# Sweep 22: token search, bucket rounding, time-delta parsing, byte
# distance, hiveHash, map-lambda fills.

# CH tokenizes on non-alphanumeric ASCII (same splitter as the
# tokenbf_v1 index); underscore separates, digits/letters group.
TEMPLATES["hastoken"] = (
    "array_contains(split({0}, '[^A-Za-z0-9]+'), {1})"
)
TEMPLATES["hastokencaseinsensitive"] = (
    "array_contains(split(lower({0}), '[^A-Za-z0-9]+'), lower({1}))"
)
RENAMES["initcaputf8"] = "initcap"

# roundDown: greatest array element <= x, else the array minimum
TEMPLATES["rounddown"] = (
    "coalesce(array_max(filter({1}, __e -> __e <= {0})), array_min({1}))"
)
# roundAge / roundDuration: CH's fixed demographic / session buckets
TEMPLATES["roundage"] = (
    "CAST(CASE WHEN {0} < 1 THEN 0 WHEN {0} < 18 THEN 17 "
    "WHEN {0} < 25 THEN 18 WHEN {0} < 35 THEN 25 WHEN {0} < 45 THEN 35 "
    "WHEN {0} < 55 THEN 45 ELSE 55 END AS TINYINT)"
)
TEMPLATES["roundduration"] = (
    "CAST(coalesce(array_max(filter(array(1, 10, 30, 60, 120, 180, 240, "
    "300, 600, 1200, 1800, 3600, 7200, 18000, 36000), "
    "__e -> __e <= {0})), 0) AS INT)"
)

# parseTimeDelta('1h30m' / '2 days 3 hours') → Float64 seconds.
# Unit ladder ordered so 'mo*' (months) wins over 'm*' (minutes) and
# the two-letter sub-second units match before the 'm'/'s' prefixes.
# Calendar units use CH's averages (month 365.25/12 d, year 365.25 d).
TEMPLATES["parsetimedelta"] = (
    "aggregate(regexp_extract_all(lower({0}), "
    "'([0-9]+\\\\.?[0-9]*)\\\\s*([a-z]+)', 0), CAST(0.0 AS DOUBLE), "
    "(__acc, __p) -> __acc + "
    "CAST(regexp_extract(__p, '([0-9]+\\\\.?[0-9]*)', 1) AS DOUBLE) * "
    "CASE WHEN regexp_extract(__p, '([a-z]+)', 1) LIKE 'mo%' THEN 2629746.0 "
    "WHEN regexp_extract(__p, '([a-z]+)', 1) LIKE 'y%' THEN 31557600.0 "
    "WHEN regexp_extract(__p, '([a-z]+)', 1) LIKE 'w%' THEN 604800.0 "
    "WHEN regexp_extract(__p, '([a-z]+)', 1) LIKE 'd%' THEN 86400.0 "
    "WHEN regexp_extract(__p, '([a-z]+)', 1) LIKE 'h%' THEN 3600.0 "
    "WHEN regexp_extract(__p, '([a-z]+)', 1) IN ('ms', 'millisecond', "
    "'milliseconds') THEN 0.001 "
    "WHEN regexp_extract(__p, '([a-z]+)', 1) IN ('us', 'microsecond', "
    "'microseconds') THEN 0.000001 "
    "WHEN regexp_extract(__p, '([a-z]+)', 1) IN ('ns', 'nanosecond', "
    "'nanoseconds') THEN 0.000000001 "
    "WHEN regexp_extract(__p, '([a-z]+)', 1) LIKE 'm%' THEN 60.0 "
    "WHEN regexp_extract(__p, '([a-z]+)', 1) LIKE 's%' THEN 1.0 "
    "ELSE 0.0 END)"
)

# byteHammingDistance: positionwise byte mismatches; zip_with pads the
# shorter side with NULL and <=> counts those as differences, which IS
# the length-difference contribution.  split('', '') yields [''] in
# Spark, hence the empty guards.
TEMPLATES["bytehammingdistance"] = (
    "size(filter(zip_with("
    "IF({0} = '', array(), split({0}, '')), "
    "IF({1} = '', array(), split({1}, '')), "
    "(__a, __b) -> NOT (__a <=> __b)), __x -> __x))"
)
# hiveHash = javaHash with the sign bit zeroed (CH docs)
TEMPLATES["hivehash"] = (
    "CAST((aggregate(split({0}, ''), 0, "
    "(__acc, __c) -> CAST(__acc * 31 + coalesce(ascii(__c), 0) AS INT)) "
    "& 2147483647) AS INT)"
)

# ---------------------------------------------------------------------------
# Sweep 23: avgMap, correlation matrices, time-ordered aggregate folds
# (deltaSumTimestamp, exponentialMovingAverage), histogram, sparkbar.

# avgMap: per-key mean over the rows that carry the key (CH divides by
# the count of maps containing the key, not the row count)
TEMPLATES["avgmap"] = (
    "map_from_entries(transform(" + _MAP_KEYS_UNION + ", "
    "k -> struct(k, aggregate(collect_list({0}), CAST(0 AS DOUBLE), "
    "(acc, m) -> acc + coalesce(CAST(element_at(m, k) AS DOUBLE), 0)) "
    "/ aggregate(collect_list({0}), CAST(0 AS DOUBLE), "
    "(acc, m) -> acc + IF(element_at(m, k) IS NULL, 0, 1)))))"
)


def _fn_corr_matrix_factory(pair_fn: str):
    """corrMatrix/covar*Matrix(x1..xn) → n×n array of pairwise stats
    (CH returns Array(Array(Float64)); n is the literal arg count, so
    the matrix expands to n² aggregate calls — Catalyst shares the
    underlying partial aggregates)."""

    def _fn(args: list[str]) -> str | None:
        if len(args) < 2:
            return None
        rows = ", ".join(
            "array("
            + ", ".join(f"{pair_fn}({a}, {b})" for b in args)
            + ")"
            for a in args
        )
        return f"array({rows})"

    return _fn


CODE_FNS["corrmatrix"] = _fn_corr_matrix_factory("corr")
CODE_FNS["covarsampmatrix"] = _fn_corr_matrix_factory("covar_samp")
CODE_FNS["covarpopmatrix"] = _fn_corr_matrix_factory("covar_pop")

# deltaSumTimestamp(value, ts): order by ts, sum the positive
# consecutive differences (the counter-reset-aware rate primitive).
# Spark aggregation has no row order, so the order is made explicit
# with a sorted collect — the semantics CH only guarantees per-block.
TEMPLATES["deltasumtimestamp"] = (
    "aggregate(array_sort(collect_list(struct(CAST({1} AS DOUBLE) AS t, "
    "CAST({0} AS DOUBLE) AS v))), "
    "named_struct('s', CAST(0 AS DOUBLE), 'pv', CAST(NULL AS DOUBLE)), "
    "(__st, __e) -> named_struct("
    "'s', __st.s + IF(__st.pv IS NOT NULL AND __e.v > __st.pv, "
    "__e.v - __st.pv, 0), 'pv', __e.v), __st -> __st.s)"
)

# exponentialMovingAverage(halflife)(value, time): CH's recurrence
# num ← v + num·2^(−Δt/halflife), den ← 1 + den·2^(−Δt/halflife),
# result num/den — a sorted fold (aggregation has no row order).
PARAMETERIZED["exponentialmovingaverage"] = (
    "aggregate(array_sort(collect_list(struct(CAST({1} AS DOUBLE) AS t, "
    "CAST({0} AS DOUBLE) AS v))), "
    "named_struct('n', CAST(0 AS DOUBLE), 'd', CAST(0 AS DOUBLE), "
    "'pt', CAST(NULL AS DOUBLE)), "
    "(__st, __e) -> named_struct("
    "'n', __e.v + __st.n * IF(__st.pt IS NULL, CAST(0 AS DOUBLE), "
    "power(0.5, (__e.t - __st.pt) / {p0})), "
    "'d', 1.0 + __st.d * IF(__st.pt IS NULL, CAST(0 AS DOUBLE), "
    "power(0.5, (__e.t - __st.pt) / {p0})), "
    "'pt', __e.t), __st -> __st.n / __st.d)"
)

# histogram(N)(x): N bins over [min, max] with per-bin counts as
# (lo, hi, height) triples.  (*) equal-width bins — CH's streaming
# adaptive binning is block-order-dependent; the bin COUNT contract
# and the (lo, hi, height) shape match.
PARAMETERIZED["histogram"] = (
    "CASE WHEN size(collect_list(CAST({0} AS DOUBLE))) = 0 THEN NULL "
    "ELSE transform(sequence(0, CAST({p0} AS INT) - 1), __i -> "
    "struct("
    "array_min(collect_list(CAST({0} AS DOUBLE))) + "
    "(array_max(collect_list(CAST({0} AS DOUBLE))) - "
    "array_min(collect_list(CAST({0} AS DOUBLE)))) / CAST({p0} AS DOUBLE) * __i "
    "AS lo, "
    "array_min(collect_list(CAST({0} AS DOUBLE))) + "
    "(array_max(collect_list(CAST({0} AS DOUBLE))) - "
    "array_min(collect_list(CAST({0} AS DOUBLE)))) / CAST({p0} AS DOUBLE) * (__i + 1) "
    "AS hi, "
    "CAST(size(filter(collect_list(CAST({0} AS DOUBLE)), __v -> "
    "__v >= array_min(collect_list(CAST({0} AS DOUBLE))) + "
    "(array_max(collect_list(CAST({0} AS DOUBLE))) - "
    "array_min(collect_list(CAST({0} AS DOUBLE)))) / CAST({p0} AS DOUBLE) * __i "
    "AND (__v < array_min(collect_list(CAST({0} AS DOUBLE))) + "
    "(array_max(collect_list(CAST({0} AS DOUBLE))) - "
    "array_min(collect_list(CAST({0} AS DOUBLE)))) / CAST({p0} AS DOUBLE) * (__i + 1) "
    "OR __i = CAST({p0} AS INT) - 1))) AS DOUBLE) AS height)) END"
)

# sparkbar(N)(x, y): bucket x into N equal-width buckets, sum y per
# bucket, render 8-level block glyphs (CH's unicode bar chart),
# normalized by the tallest bucket.


def _pfn_sparkbar(args: list[str], params: list[str]) -> str | None:
    if len(args) != 2 or len(params) != 1:
        return None
    x, y, n = args[0], args[1], params[0]
    arr = (
        f"collect_list(struct(CAST({x} AS DOUBLE) AS x, "
        f"CAST({y} AS DOUBLE) AS y))"
    )
    lo = f"array_min(transform({arr}, __e -> __e.x))"
    w = (
        f"((array_max(transform({arr}, __e -> __e.x)) - {lo}) "
        f"/ CAST({n} AS DOUBLE))"
    )
    # per-bucket sums (last bucket right-closed)
    heights = (
        f"transform(sequence(0, CAST({n} AS INT) - 1), __i -> "
        f"aggregate(filter({arr}, __e -> "
        f"__e.x >= {lo} + {w} * __i AND (__e.x < {lo} + {w} * (__i + 1) "
        f"OR __i = CAST({n} AS INT) - 1)), CAST(0 AS DOUBLE), "
        f"(__a, __e) -> __a + __e.y))"
    )
    # second fold so the heights array is computed once and its max is
    # in scope for the glyph scaling
    return (
        f"aggregate(array({heights}), CAST('' AS STRING), "
        f"(__acc, __hs) -> __acc || array_join(transform(__hs, __h -> "
        f"CASE WHEN __h <= 0 THEN ' ' ELSE element_at("
        f"array('▁', '▂', '▃', '▄', '▅', '▆', '▇', '█'), "
        f"CAST(least(greatest(ceil(__h * 8 / array_max(__hs)), 1), 8) "
        f"AS INT)) END), ''))"
    )


PARAMETERIZED["sparkbar"] = _pfn_sparkbar

# ---------------------------------------------------------------------------
# Sweep 24: range-windowed array reduction, year-zero dates, random
# distributions, URL/introspection fills, heuristic detectLanguage.


def _fn_array_reduce_in_ranges(args: list[str]) -> str | None:
    """arrayReduceInRanges('agg', ranges, arr) — per (start, length)
    1-based range, the same scalar reductions arrayReduce supports."""
    if len(args) != 3:
        return None
    inner = _fn_array_reduce(
        [args[0], f"slice({args[2]}, __rg.col1, __rg.col2)"]
    )
    if inner is None:
        return None
    return f"transform({args[1]}, __rg -> {inner})"


CODE_FNS["arrayreduceinranges"] = _fn_array_reduce_in_ranges

# days-since-year-zero calendar: year 0 is a 366-day leap year, so
# day 366 is 0001-01-01 (proleptic Gregorian, matches CH)
TEMPLATES["fromdayssinceyearzero"] = (
    "date_add(DATE'0001-01-01', CAST({0} AS INT) - 366)"
)
TEMPLATES["fromdayssinceyearzero32"] = TEMPLATES["fromdayssinceyearzero"]
TEMPLATES["utctimestamp"] = "current_timestamp()"

TEMPLATES["randbernoulli"] = "CAST(IF(rand() < {0}, 1, 0) AS BIGINT)"
TEMPLATES["randexponential"] = "(-ln(1 - rand()) / {0})"
TEMPLATES["randlognormal"] = "exp({0} + {1} * randn())"

TEMPLATES["querystringandfragment"] = (
    "concat(coalesce(parse_url({0}, 'QUERY'), ''), "
    "IF(parse_url({0}, 'REF') IS NULL, '', "
    "concat('#', parse_url({0}, 'REF'))))"
)
# the whole result is one block in this engine (blockNumber() — sweep
# 19 — is the same convention)
TEMPLATES["blocksize"] = "count(1) OVER ()"
TEMPLATES["queryid"] = "uuid()"          # non-deterministic lane
TEMPLATES["initialqueryid"] = "uuid()"   # non-deterministic lane

# detectLanguage: the same marker-word + CJK-script heuristic as
# operators/text.py::lang_id, as a scalar expression (CH's version
# needs the CLD model; 'un' = CH's unknown-language code).
_LANG_MARKER_SQL = {
    "en": "'the', 'and', 'of', 'is', 'with'",
    "de": "'der', 'die', 'und', 'ist', 'das'",
    "fr": "'le', 'la', 'et', 'les', 'des'",
    "es": "'el', 'los', 'las', 'una', 'es'",
}


def _fn_detect_language(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    toks = f"split(lower({args[0]}), '[^a-z]+')"
    hit = {
        lang: f"size(filter({toks}, __w -> __w IN ({ms})))"
        for lang, ms in _LANG_MARKER_SQL.items()
    }
    best = f"greatest({hit['en']}, {hit['de']}, {hit['fr']}, {hit['es']})"
    cjk = f"length(regexp_replace({args[0]}, '[^一-鿿]', ''))"
    return (
        f"CASE WHEN {cjk} > 0 THEN 'zh' "
        f"WHEN {best} = 0 THEN 'un' "
        f"WHEN {hit['en']} = {best} THEN 'en' "
        f"WHEN {hit['de']} = {best} THEN 'de' "
        f"WHEN {hit['fr']} = {best} THEN 'fr' "
        f"ELSE 'es' END"
    )


CODE_FNS["detectlanguage"] = _fn_detect_language

# ---------------------------------------------------------------------------
# Sweep 25: tuple vector arithmetic, morton curves, exact-quantile
# variants, snowflake IDs, misc fills.


def _tuple_elems(arg: str) -> list[str] | None:
    """Top-level elements of a literal tuple argument — ``(a, b)``,
    ``tuple(a, b)`` or the already-rewritten ``struct(a, b)``.  None
    for non-literal tuples (column refs): field arity is unknowable
    statically, the spelling then surfaces unresolved."""
    s = arg.strip()
    low = s.lower()
    for pre in ("struct(", "tuple("):
        if low.startswith(pre) and s.endswith(")"):
            s = s[len(pre) : -1]
            break
    else:
        if s.startswith("(") and s.endswith(")"):
            s = s[1:-1]
        else:
            return None
    parts = split_text(s)
    return parts if len(parts) >= 2 else None


def _fn_tuple_zip_factory(op: str):
    def _fn(args: list[str]) -> str | None:
        if len(args) != 2:
            return None
        a, b = _tuple_elems(args[0]), _tuple_elems(args[1])
        if a is None or b is None or len(a) != len(b):
            return None
        return "struct(" + ", ".join(
            f"(({x}) {op} ({y}))" for x, y in zip(a, b)
        ) + ")"

    return _fn


CODE_FNS["tupleplus"] = _fn_tuple_zip_factory("+")
CODE_FNS["tupleminus"] = _fn_tuple_zip_factory("-")
CODE_FNS["tuplemultiply"] = _fn_tuple_zip_factory("*")
CODE_FNS["tupledivide"] = _fn_tuple_zip_factory("/")


def _fn_tuple_scale_factory(op: str):
    def _fn(args: list[str]) -> str | None:
        if len(args) != 2:
            return None
        a = _tuple_elems(args[0])
        if a is None:
            return None
        return "struct(" + ", ".join(
            f"(({x}) {op} ({args[1]}))" for x in a
        ) + ")"

    return _fn


CODE_FNS["tuplemultiplybynumber"] = _fn_tuple_scale_factory("*")
CODE_FNS["tupledividebynumber"] = _fn_tuple_scale_factory("/")


def _fn_tuple_negate(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    a = _tuple_elems(args[0])
    if a is None:
        return None
    return "struct(" + ", ".join(f"(-({x}))" for x in a) + ")"


CODE_FNS["tuplenegate"] = _fn_tuple_negate

TEMPLATES["clamp"] = "least(greatest({0}, {1}), {2})"
TEMPLATES["ipv4toipv6"] = "concat('::ffff:', {0})"
# string up to the first NUL byte (CH fixed-string helper)
TEMPLATES["tostringcuttozero"] = "substring_index({0}, chr(0), 1)"

# 2-D morton (Z-order) interleave: bit i of x → bit 2i, of y → 2i+1
TEMPLATES["mortonencode"] = (
    "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (__acc, __i) -> "
    "__acc | shiftleft(shiftrightunsigned(CAST({0} AS BIGINT), __i) & 1, 2 * __i) "
    "| shiftleft(shiftrightunsigned(CAST({1} AS BIGINT), __i) & 1, 2 * __i + 1))"
)
TEMPLATES["mortondecode"] = (
    "struct("
    "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (__acc, __i) -> "
    "__acc | shiftleft(shiftrightunsigned(CAST({1} AS BIGINT), 2 * __i) & 1, __i)), "
    "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (__acc, __i) -> "
    "__acc | shiftleft(shiftrightunsigned(CAST({1} AS BIGINT), 2 * __i + 1) & 1, __i)))"
)

# exact-quantile conventions over a sorted collect (n small enough to
# collect is the quantileExact contract; the scalable path is
# operators/quantile.py's histogram bisection)
PARAMETERIZED["quantileexactlow"] = (
    "element_at(array_sort(collect_list({0})), "
    "CAST(floor({p0} * (count({0}) - 1)) AS INT) + 1)"
)
PARAMETERIZED["quantileexacthigh"] = (
    "element_at(array_sort(collect_list({0})), "
    "CAST(ceil({p0} * (count({0}) - 1)) AS INT) + 1)"
)
PARAMETERIZED["quantileexactinclusive"] = "percentile({0}, {p0})"
# PERCENTILE.EXC: h = level·(n+1), clamped to [1, n], linear between
PARAMETERIZED["quantileexactexclusive"] = (
    "aggregate(array(array_sort(collect_list(CAST({0} AS DOUBLE)))), "
    "CAST(0 AS DOUBLE), (__z, __arr) -> "
    "element_at(__arr, CAST(floor(least(greatest({p0} * (size(__arr) + 1), "
    "1.0), CAST(size(__arr) AS DOUBLE))) AS INT)) + "
    "(least(greatest({p0} * (size(__arr) + 1), 1.0), "
    "CAST(size(__arr) AS DOUBLE)) - "
    "floor(least(greatest({p0} * (size(__arr) + 1), 1.0), "
    "CAST(size(__arr) AS DOUBLE)))) * "
    "(element_at(__arr, least(CAST(floor(least(greatest({p0} * "
    "(size(__arr) + 1), 1.0), CAST(size(__arr) AS DOUBLE))) AS INT) + 1, "
    "size(__arr))) - "
    "element_at(__arr, CAST(floor(least(greatest({p0} * (size(__arr) + 1), "
    "1.0), CAST(size(__arr) AS DOUBLE))) AS INT))))"
)
# (*) Spark's frequency-weighted percentile interpolates over repeat
# counts — integer weights only, same interpolating intent
PARAMETERIZED["quantileinterpolatedweighted"] = (
    "percentile({0}, {p0}, CAST({1} AS BIGINT))"
)

# snowflake IDs: 41-bit ms timestamp above 22 low bits, Twitter epoch
TEMPLATES["snowflakeidtodatetime"] = (
    "timestamp_millis(shiftrightunsigned(CAST({0} AS BIGINT), 22) "
    "+ 1288834974657)"
)
TEMPLATES["datetimetosnowflakeid"] = (
    "shiftleft(unix_millis(CAST({0} AS TIMESTAMP)) - 1288834974657, 22)"
)


# ---------------------------------------------------------------------------
# Sweep 26: arraySplit family, wide integers as DECIMAL(38), makeDate
# arities, system introspection fills.

RENAMES["concatassumeinjective"] = "concat"
TEMPLATES["firstline"] = "substring_index({0}, chr(10), 1)"
TEMPLATES["tobool"] = "CAST({0} AS BOOLEAN)"
TEMPLATES["fullhostname"] = "'localhost'"
TEMPLATES["displayname"] = "'localhost'"
TEMPLATES["revision"] = "54468"  # server/native_server.py REVISION
TEMPLATES["connectionid"] = "CAST(0 AS BIGINT)"
TEMPLATES["currentprofiles"] = "array('default')"
TEMPLATES["enabledprofiles"] = "array('default')"
TEMPLATES["defaultprofiles"] = "array('default')"
TEMPLATES["currentroles"] = "array('default')"
TEMPLATES["enabledroles"] = "array('default')"
TEMPLATES["defaultroles"] = "array('default')"
TEMPLATES["currentschemas"] = "array(current_database())"

# arraySplit cuts BEFORE elements matching the predicate (CH contract;
# arrayReverseSplit cuts AFTER).  Empty-typed init via the slice trick
# (transform of an empty slice carries the element type); the lambda is
# applied through filter-on-a-singleton like arrayLastIndex above.
TEMPLATES["arraysplit"] = (
    "CASE WHEN size({1}) = 0 THEN transform(slice({1}, 1, 0), __x -> array(__x)) "
    "ELSE aggregate(sequence(2, greatest(size({1}), 2)), "
    "transform(slice({1}, 1, 1), __x -> array(__x)), "
    "(__acc, __i) -> CASE WHEN __i > size({1}) THEN __acc "
    "WHEN size(filter(array(element_at({1}, __i)), {0})) = 1 "
    "THEN concat(__acc, array(array(element_at({1}, __i)))) "
    "ELSE concat(slice(__acc, 1, size(__acc) - 1), "
    "array(concat(element_at(__acc, -1), array(element_at({1}, __i))))) END) END"
)
TEMPLATES["arrayreversesplit"] = (
    "CASE WHEN size({1}) = 0 THEN transform(slice({1}, 1, 0), __x -> array(__x)) "
    "ELSE aggregate(sequence(2, greatest(size({1}), 2)), "
    "transform(slice({1}, 1, 1), __x -> array(__x)), "
    "(__acc, __i) -> CASE WHEN __i > size({1}) THEN __acc "
    "WHEN size(filter(array(element_at({1}, __i - 1)), {0})) = 1 "
    "THEN concat(__acc, array(array(element_at({1}, __i)))) "
    "ELSE concat(slice(__acc, 1, size(__acc) - 1), "
    "array(concat(element_at(__acc, -1), array(element_at({1}, __i))))) END) END"
)

# wide integers: DECIMAL(38, 0) carries 38 of Int128's 39 digits —
# the widest exact integer Spark has; documented clamp of the surface
for _wn, _wsigned in (
    ("int128", True), ("uint128", False), ("int256", True), ("uint256", False)
):
    _wcast = f"CAST({{0}} AS DECIMAL(38, 0))"
    _wnull = (
        f"try_cast({{0}} AS DECIMAL(38, 0))"
        if _wsigned
        else (
            f"CASE WHEN try_cast({{0}} AS DECIMAL(38, 0)) >= 0 "
            f"THEN try_cast({{0}} AS DECIMAL(38, 0)) END"
        )
    )
    TEMPLATES[f"to{_wn}"] = _wcast
    TEMPLATES[f"to{_wn}ornull"] = _wnull
    TEMPLATES[f"to{_wn}orzero"] = f"COALESCE({_wnull}, CAST(0 AS DECIMAL(38, 0)))"

CODE_FNS["todecimal256"] = lambda args: (
    f"CAST({args[0]} AS DECIMAL(38, {min(int(args[1]), 37) if args[1].strip().isdigit() else args[1]}))"
    if len(args) == 2
    else None
)
CODE_FNS["todecimal256ornull"] = lambda args: (
    f"try_cast({args[0]} AS DECIMAL(38, {min(int(args[1]), 37) if args[1].strip().isdigit() else args[1]}))"
    if len(args) == 2
    else None
)
CODE_FNS["todatetime64orzero"] = lambda args: (
    "COALESCE(try_cast({0} AS TIMESTAMP), TIMESTAMP '1970-01-01 00:00:00')".format(args[0])
    if len(args) in (1, 2)
    else None
)


def _fn_make_date(args: list[str]) -> str | None:
    """makeDate(y, m, d) | makeDate(y, dayofyear) — both CH arities."""
    if len(args) == 3:
        return f"make_date({args[0]}, {args[1]}, {args[2]})"
    if len(args) == 2:
        return (
            f"date_add(make_date({args[0]}, 1, 1), "
            f"CAST({args[1]} AS INT) - 1)"
        )
    return None


del RENAMES["makedate"]
CODE_FNS["makedate"] = _fn_make_date
CODE_FNS["makedate32"] = _fn_make_date


def _fn_make_datetime64(args: list[str]) -> str | None:
    """makeDateTime64(y,m,d,h,mi,s[,fraction[,precision[,tz]]]) —
    fraction is in units of 10^-precision seconds (default 3)."""
    if len(args) == 6:
        return "make_timestamp(" + ", ".join(args) + ")"
    if len(args) in (7, 8):
        prec = args[7] if len(args) == 8 else "3"
        return (
            f"make_timestamp({args[0]}, {args[1]}, {args[2]}, {args[3]}, "
            f"{args[4]}, CAST({args[5]} AS DOUBLE) + "
            f"CAST({args[6]} AS DOUBLE) / power(10, {prec}))"
        )
    return None


CODE_FNS["makedatetime64"] = _fn_make_datetime64


def _fn_finalize_aggregation(args: list[str]) -> str | None:
    """finalizeAggregation(state) — value-states finalize to
    themselves except the two composite representations (see the
    -State combinator above): avg's (s, c) struct and uniq's set."""
    if len(args) != 1:
        return None
    probe = args[0].replace(" ", "").lower()
    # the inner -State spelling may already be rewritten by an earlier
    # fixpoint pass — recognize both the CH spelling and its value-
    # state representation
    if (
        "avgstate(" in probe
        or "avgweightedstate(" in probe
        or "'avgstate'" in probe          # initializeAggregation literal
        or "'avgweightedstate'" in probe
        or probe.startswith("named_struct('s',")
    ):
        return f"(({args[0]}).s / ({args[0]}).c)"
    if (
        "uniqstate(" in probe
        or "uniqexactstate(" in probe
        or "uniqcombinedstate(" in probe
        or "uniqhll12state(" in probe
        or "'uniqstate'" in probe
        or "'uniqexactstate'" in probe
        or probe.startswith("collect_set(")
    ):
        return f"size({args[0]})"
    return f"({args[0]})"


CODE_FNS["finalizeaggregation"] = _fn_finalize_aggregation


def _fn_initialize_aggregation(args: list[str]) -> str | None:
    """initializeAggregation('aggState', v…) → the value-state of a
    single row (the CH spelling for seeding a state column)."""
    if len(args) < 2:
        return None
    name = (_lit_str(args[0]) or "").lower()
    if name.endswith("state"):
        name = name[: -len("state")]
    vals = args[1:]
    v = vals[0]
    if name in ("sum", "min", "max", "any", "anylast"):
        return f"({v})"
    if name == "count":
        return "CAST(1 AS BIGINT)"
    if name in ("avg", "avgweighted"):
        return f"named_struct('s', CAST({v} AS DOUBLE), 'c', CAST(1 AS BIGINT))"
    if name in ("uniq", "uniqexact", "uniqcombined", "uniqhll12"):
        return f"array({v})"
    if name == "grouparray":
        return f"array({v})"
    return None


CODE_FNS["initializeaggregation"] = _fn_initialize_aggregation

TEMPLATES["isnotdistinctfrom"] = "({0} <=> {1})"
