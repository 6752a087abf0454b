package perfbench;

/** Prints SparkEntry.oracleSql, the DuckDB-dialect statements the
  * queries are checked against, as one JSON object {name: sql}. */
public final class DumpSql {
  public static void main(String[] args) {
    scala.collection.Iterator<scala.Tuple2<String, String>> it =
        graft.SparkEntry.oracleSql().iterator();
    StringBuilder b = new StringBuilder("{");
    boolean first = true;
    while (it.hasNext()) {
      scala.Tuple2<String, String> t = it.next();
      b.append(first ? "" : ",\n").append(quote(t._1())).append(':').append(quote(t._2()));
      first = false;
    }
    System.out.println(b.append('}'));
  }

  static String quote(String s) {
    StringBuilder b = new StringBuilder("\"");
    for (char c : s.toCharArray()) {
      if (c == '"' || c == '\\') b.append('\\').append(c);
      else if (c < 0x20) b.append(String.format("\\u%04x", (int) c));
      else b.append(c);
    }
    return b.append('"').toString();
  }
}
