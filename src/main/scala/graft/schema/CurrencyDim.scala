package graft.schema

/** The 84-row ISIN -> currency-pair dimension.
  *
  * Regenerated from the reference's static in-process dict
  * (/root/reference/downloader/plugins/IsinToCurrencyPair/currency.py:7-91):
  * ISINs XFC000000001..084, lowercase base/quote, pair = base+quote.
  * Forward lookup (isin -> pair) is a hard KeyError in the reference
  * (currency.py:93-94) => inner-join drop semantics; reverse lookup
  * (pair -> isin) returns None on miss (currency.py:96-99) => left-outer
  * null semantics. Both are map lookups over these rows ([[graft.ops.DimJoins]]),
  * so the dim rides each plan as a literal and the facts never move.
  */
object CurrencyDim {
  val rows: Seq[CurrencyPair] = Seq(
    CurrencyPair("XFC000000001", "btc", "eur", "btceur"),
        CurrencyPair("XFC000000002", "btc", "usd", "btcusd"),
        CurrencyPair("XFC000000003", "ltc", "usd", "ltcusd"),
        CurrencyPair("XFC000000004", "ltc", "btc", "ltcbtc"),
        CurrencyPair("XFC000000005", "eth", "usd", "ethusd"),
        CurrencyPair("XFC000000006", "eth", "btc", "ethbtc"),
        CurrencyPair("XFC000000007", "etc", "btc", "etcbtc"),
        CurrencyPair("XFC000000008", "etc", "usd", "etcusd"),
        CurrencyPair("XFC000000009", "rrt", "usd", "rrtusd"),
        CurrencyPair("XFC000000010", "rrt", "btc", "rrtbtc"),
        CurrencyPair("XFC000000011", "zec", "usd", "zecusd"),
        CurrencyPair("XFC000000012", "zec", "btc", "zecbtc"),
        CurrencyPair("XFC000000013", "xmr", "usd", "xmrusd"),
        CurrencyPair("XFC000000014", "xmr", "btc", "xmrbtc"),
        CurrencyPair("XFC000000015", "dsh", "usd", "dshusd"),
        CurrencyPair("XFC000000016", "dsh", "btc", "dshbtc"),
        CurrencyPair("XFC000000017", "xrp", "usd", "xrpusd"),
        CurrencyPair("XFC000000018", "xrp", "btc", "xrpbtc"),
        CurrencyPair("XFC000000019", "iot", "usd", "iotusd"),
        CurrencyPair("XFC000000020", "iot", "btc", "iotbtc"),
        CurrencyPair("XFC000000021", "iot", "eth", "ioteth"),
        CurrencyPair("XFC000000022", "eos", "usd", "eosusd"),
        CurrencyPair("XFC000000023", "eos", "btc", "eosbtc"),
        CurrencyPair("XFC000000024", "eos", "eth", "eoseth"),
        CurrencyPair("XFC000000025", "san", "usd", "sanusd"),
        CurrencyPair("XFC000000026", "san", "btc", "sanbtc"),
        CurrencyPair("XFC000000027", "san", "eth", "saneth"),
        CurrencyPair("XFC000000028", "omg", "usd", "omgusd"),
        CurrencyPair("XFC000000029", "omg", "btc", "omgbtc"),
        CurrencyPair("XFC000000030", "omg", "eth", "omgeth"),
        CurrencyPair("XFC000000031", "bch", "usd", "bchusd"),
        CurrencyPair("XFC000000032", "bch", "btc", "bchbtc"),
        CurrencyPair("XFC000000033", "bch", "eth", "bcheth"),
        CurrencyPair("XFC000000034", "neo", "usd", "neousd"),
        CurrencyPair("XFC000000035", "neo", "btc", "neobtc"),
        CurrencyPair("XFC000000036", "neo", "eth", "neoeth"),
        CurrencyPair("XFC000000037", "etp", "usd", "etpusd"),
        CurrencyPair("XFC000000038", "etp", "btc", "etpbtc"),
        CurrencyPair("XFC000000039", "etp", "eth", "etpeth"),
        CurrencyPair("XFC000000040", "qtm", "usd", "qtmusd"),
        CurrencyPair("XFC000000041", "qtm", "btc", "qtmbtc"),
        CurrencyPair("XFC000000042", "qtm", "eth", "qtmeth"),
        CurrencyPair("XFC000000043", "avt", "usd", "avtusd"),
        CurrencyPair("XFC000000044", "avt", "btc", "avtbtc"),
        CurrencyPair("XFC000000045", "avt", "eth", "avteth"),
        CurrencyPair("XFC000000046", "edo", "usd", "edousd"),
        CurrencyPair("XFC000000047", "edo", "btc", "edobtc"),
        CurrencyPair("XFC000000048", "edo", "eth", "edoeth"),
        CurrencyPair("XFC000000049", "btg", "usd", "btgusd"),
        CurrencyPair("XFC000000050", "btg", "btc", "btgbtc"),
        CurrencyPair("XFC000000051", "dat", "usd", "datusd"),
        CurrencyPair("XFC000000052", "dat", "btc", "datbtc"),
        CurrencyPair("XFC000000053", "dat", "eth", "dateth"),
        CurrencyPair("XFC000000054", "qsh", "usd", "qshusd"),
        CurrencyPair("XFC000000055", "qsh", "btc", "qshbtc"),
        CurrencyPair("XFC000000056", "qsh", "eth", "qsheth"),
        CurrencyPair("XFC000000057", "yyw", "usd", "yywusd"),
        CurrencyPair("XFC000000058", "yyw", "btc", "yywbtc"),
        CurrencyPair("XFC000000059", "yyw", "eth", "yyweth"),
        CurrencyPair("XFC000000060", "gnt", "usd", "gntusd"),
        CurrencyPair("XFC000000061", "gnt", "btc", "gntbtc"),
        CurrencyPair("XFC000000062", "gnt", "eth", "gnteth"),
        CurrencyPair("XFC000000063", "snt", "usd", "sntusd"),
        CurrencyPair("XFC000000064", "snt", "btc", "sntbtc"),
        CurrencyPair("XFC000000065", "snt", "eth", "snteth"),
        CurrencyPair("XFC000000066", "iot", "eur", "ioteur"),
        CurrencyPair("XFC000000067", "bat", "usd", "batusd"),
        CurrencyPair("XFC000000068", "bat", "btc", "batbtc"),
        CurrencyPair("XFC000000069", "bat", "eth", "bateth"),
        CurrencyPair("XFC000000070", "mna", "usd", "mnausd"),
        CurrencyPair("XFC000000071", "mna", "btc", "mnabtc"),
        CurrencyPair("XFC000000072", "mna", "eth", "mnaeth"),
        CurrencyPair("XFC000000073", "fun", "usd", "funusd"),
        CurrencyPair("XFC000000074", "fun", "btc", "funbtc"),
        CurrencyPair("XFC000000075", "fun", "eth", "funeth"),
        CurrencyPair("XFC000000076", "zrx", "usd", "zrxusd"),
        CurrencyPair("XFC000000077", "zrx", "btc", "zrxbtc"),
        CurrencyPair("XFC000000078", "zrx", "eth", "zrxeth"),
        CurrencyPair("XFC000000079", "tnb", "usd", "tnbusd"),
        CurrencyPair("XFC000000080", "tnb", "btc", "tnbbtc"),
        CurrencyPair("XFC000000081", "tnb", "eth", "tnbeth"),
        CurrencyPair("XFC000000082", "spk", "usd", "spkusd"),
        CurrencyPair("XFC000000083", "spk", "btc", "spkbtc"),
        CurrencyPair("XFC000000084", "spk", "eth", "spketh")  )

  /** The same dimension as an inline ANSI VALUES relation, for DuckDB
    * oracle SQL. Kept in one place so Spark + oracle can never drift. */
  def sqlRelation(alias: String = "dim"): String =
    rows.map(r => s"('${r.isin}', '${r.base}', '${r.quote}', '${r.pair}')")
      .mkString("(VALUES ", ", ", s") $alias(isin, base, quote, pair)")
}
